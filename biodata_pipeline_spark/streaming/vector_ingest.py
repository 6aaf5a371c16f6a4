"""Streaming embedding ingest into the persistent IVF index — the
similarity-side twin of ``streaming/dedup_ingest.py``.

Each microbatch of (id, embedding) rows is censused by defect class
(null / wrong_dim / null_element / non_finite / zero_norm / ok — the
``q_embedding_validate`` machinery), the census lands in a per-batch
report partition, and ONLY the geometrically valid vectors enroll in
the ``VectorIndexStore`` via its broadcast-assignment ``add`` — so the
index stays exactly the searchable set and a pipeline can read what it
lost from the report, batch by batch.

Replay safety is the dedup-ingest pattern verbatim: every write is
scoped to the microbatch's own ``batch_id=`` partition via dynamic
partition overwrite (the index enrollment through ``add(batch_id=...)``
and the census report), so a crashed batch replays with the same
batch_id and overwrites exactly its own partitions — at-least-once
delivery, exactly-once effect, no commit marker needed. Long-running
ingests periodically fold the per-batch appends with
``VectorIndexStore.compact`` (between drains, same contract as the
dedup index).

The store must be BUILT before streaming begins (``build`` trains the
coarse quantizer — at scale on a bounded sample via ``train_sample``);
``add`` is assignment against frozen centroids, which is what makes
per-batch cost flat in index size. Reference anchor: the reference
embeds its corpus in one offline pass (rag_evaluation/
RAG-eval-test_model.py:65-117); this is that pass as a continuously
ingesting query with per-batch defect accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodata_pipeline_spark.operators.ann_store import VectorIndexStore
from biodata_pipeline_spark.sources.store import write_batch


def process_vector_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    report_dir: str,
    dim: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """One microbatch of the gated embedding ingest — the foreachBatch
    body. Census first (every row, including defective ones), then
    enroll the clean subset; both writes are batch-partition-scoped so
    a replay is idempotent."""
    from biodata_pipeline_spark.functions.vector import embedding_defect
    from biodata_pipeline_spark.pipelines import embedding_ingest_report

    if batch_df.isEmpty():
        return
    census = embedding_ingest_report(
        batch_df, dim, vec_col=emb_col, id_col=id_col
    )
    write_batch(census, report_dir, str(batch_id))
    clean = batch_df.filter(
        embedding_defect(emb_col, dim) == F.lit("ok")
    )
    store = VectorIndexStore(index_path, id_col=id_col, emb_col=emb_col)
    store.add(clean, batch_id=str(batch_id))


def run_vector_ingest(
    stream_df: DataFrame,
    checkpoint_dir: str,
    index_path: str,
    report_dir: str,
    dim: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
):
    """Drain an embedding stream into the IVF index (availableNow);
    returns the finished StreamingQuery. The store at ``index_path``
    must already be built."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        process_vector_ingest_batch(
            batch_df,
            batch_id,
            index_path,
            report_dir,
            dim,
            id_col=id_col,
            emb_col=emb_col,
        )

    q = (
        stream_df.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
