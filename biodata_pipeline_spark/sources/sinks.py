"""Sinks: the reference's output conventions as scale-safe writers.

Reference sink inventory (SURVEY §2.1):
 - one text file per record, filename = primary key, existence = processed
   flag (data_generation/generate_narratives_from_data.py:63-72) → a
   partitioned/appended parquet sink plus a completion manifest;
 - path-encoded metadata — epoch in the directory suffix, task/shots in
   the filename (train_adapters/create_all_models.py:41;
   llm_harness_evaluation/test_all_models_llm_eval_sophia.py:49-52) →
   real partition columns via ``partitionBy`` (Hive-style layout keeps
   partition pruning on the read side);
 - JSON metric files per grid cell
   (llm_harness_evaluation/testmodel_llm_harness_sophia.sh:77-82) →
   ``df.write.json``;
 - a report file mixing per-query detail lines with trailing corpus
   aggregates (rag_evaluation/RAG-eval-test_model.py:143,151-153) → two
   frames written separately (no mixed-schema files);
 - destroy-and-rebuild vector store (RAG-eval-test_model.py:233-242) →
   ``mode("overwrite")`` parquet.

One file per record does not scale to 100 TB; the engine's equivalents
write partitioned columnar data where the "filename key" is a column, and
idempotence comes from the manifest anti-join, not filesystem probes.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

if TYPE_CHECKING:  # the manifest reads through sources.store, which writes here
    from biodata_pipeline_spark.sources.manifest import Manifest


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """Partitioned parquet write: path-encoded metadata becomes real
    partition directories. With ``dynamic`` overwrite, only the partitions
    present in ``df`` are replaced — re-running one grid cell never clobbers
    its siblings (the reference got this "for free" from one-file-per-key).
    The mode is set on this write only, never on the session."""
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_json_metrics(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Metric rows as JSON-lines (the lm-eval ``--output_path *.json``
    analog; one distributed JSON dataset instead of one file per cell)."""
    df.write.mode(mode).json(path)


def write_report(
    detail: DataFrame, summary: DataFrame, base_path: str, mode: str = "overwrite"
) -> None:
    """The reference appends per-query lines and then trailing aggregate
    lines to one file; mixed-schema files defeat every columnar reader, so
    the engine writes ``{base}/detail`` and ``{base}/summary`` separately."""
    detail.write.mode(mode).parquet(f"{base_path}/detail")
    summary.write.mode(mode).parquet(f"{base_path}/summary")


def overwrite_vector_store(
    df: DataFrame, path: str, id_col: str = "chunk_uid", emb_col: str = "embedding"
) -> None:
    """Destroy-and-rebuild index sink: atomic ``overwrite`` replaces the
    reference's ``shutil.rmtree`` + rebuild; similarity is served
    relationally (operators.retrieval / operators.similarity), so parquet
    of (id, embedding) IS the store."""
    df.select(id_col, emb_col).write.mode("overwrite").parquet(path)


def idempotent_append(
    df: DataFrame, path: str, manifest: Manifest, completed_keys: DataFrame | None = None
) -> None:
    """Append rows and record their keys in the completion manifest in one
    call — the write side of the skip-if-exists contract. Pair with
    ``manifest.pending(work)`` on the read side; run-twice ⇒ zero new rows."""
    df.write.mode("append").parquet(path)
    manifest.mark_done(completed_keys if completed_keys is not None else df)
