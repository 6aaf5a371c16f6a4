"""Streaming training-export: incremental token-budgeted shards.

The batch export (`pipelines.export_training_shards`) rewrites the whole
corpus; a streaming ingest needs the append-only form — each microbatch
of new documents is shuffled among itself and packed AFTER the tokens
already exported (`operators/sharding.py::incremental_shard_plan`), so
previously written shard files never change.

The manifest is stored as DELTAS (one row per (batch, shard) appended
per microbatch) instead of a rewritten total table: the continuation
offset only needs ``sum(shard_tokens)``, which aggregates the delta log
without ever collecting a shard list to the driver — so the design
holds when the shard count itself is huge (100 TB / 4M-token shards ≈
25M shards), and there is no read-then-overwrite race on the manifest
path. Readers who want per-shard totals aggregate the log
(``read_shard_manifest``).

Exactly-once across crashes: the manifest delta is the COMMIT MARKER.
Rows land under ``batch_id=N/shard_id=M/`` partitions via dynamic
partition overwrite, so a replay of an uncommitted batch recomputes the
identical plan (the delta log it packs after is unchanged — md5 order,
integer offsets) and overwrites exactly its own partitions; the
manifest append happens last, and a batch whose id is already in the
log is skipped entirely. A crash at any point within one checkpoint
lineage therefore converges to one copy of every row. (The marker keys
on batch_id, so it protects restarts/replays of the SAME checkpoint —
deleting the checkpoint renumbers batches, the caveat every
foreachBatch batch-id idempotence pattern shares; the ingest-side
manifest anti-join in ``streaming/ingest.py`` is the content-keyed
defense when that matters.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodata_pipeline_spark.functions import textfn
from biodata_pipeline_spark.operators.sharding import incremental_shard_plan
from biodata_pipeline_spark.sources.sinks import write_partitioned
from biodata_pipeline_spark.sources.store import read_if_present


def read_shard_manifest(spark, manifest_dir: str) -> DataFrame | None:
    """Aggregate the delta log to per-shard totals (shard_id, n_docs,
    shard_tokens). None if nothing has been exported yet."""
    deltas = read_if_present(spark, manifest_dir)
    if deltas is None:
        return None
    return deltas.groupBy("shard_id").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("shard_tokens").cast("long").alias("shard_tokens"),
    )


def _write_shards(plan: DataFrame, batch_id: int, sink_dir: str, key_col: str) -> None:
    """Step 4a of the commit protocol: rows land under
    (batch_id, shard_id) partitions in shuffle order via dynamic
    partition overwrite — a replayed batch overwrites exactly its own
    partitions."""
    write_partitioned(
        plan.withColumn("batch_id", F.lit(batch_id))
        .repartition(F.col("shard_id"))
        .sortWithinPartitions("__ord", key_col)
        .drop("__n_tok"),
        sink_dir,
        ["batch_id", "shard_id"],
    )


def _append_manifest(plan: DataFrame, batch_id: int, manifest_dir: str) -> None:
    """Step 4b — the COMMIT MARKER: the manifest delta appends LAST, so
    a crash anywhere before this line leaves the batch uncommitted and
    the replay reproduces + overwrites it. Module-level on purpose: the
    crash-resume pytest monkeypatches this seam to kill the stream
    between the shard write and the commit."""
    (
        plan.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__n_tok").cast("long").alias("shard_tokens"),
        )
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("append")
        .parquet(manifest_dir)
    )


def process_export_batch(
    batch_df: DataFrame,
    batch_id: int,
    sink_dir: str,
    manifest_dir: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    token_budget: int = 1 << 22,
    salt: str = "shuffle",
) -> None:
    """One microbatch of the incremental shard export — the foreachBatch
    body of ``run_incremental_shard_export`` (see module docstring for
    the exactly-once commit protocol)."""
    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return
    deltas = read_if_present(spark, manifest_dir)
    if (
        deltas is not None
        and deltas.filter(F.col("batch_id") == batch_id).limit(1).count() > 0
    ):
        return  # fully committed — replay is a no-op
    weighted = batch_df.withColumn(
        "__n_tok", textfn.token_count(text_col).cast("long")
    )
    plan = incremental_shard_plan(
        weighted, deltas, key_col, "__n_tok", token_budget, salt=salt
    ).localCheckpoint()
    _write_shards(plan, batch_id, sink_dir, key_col)
    _append_manifest(plan, batch_id, manifest_dir)


def run_incremental_shard_export(
    stream_df: DataFrame,
    checkpoint_dir: str,
    sink_dir: str,
    manifest_dir: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    token_budget: int = 1 << 22,
    salt: str = "shuffle",
):
    """Drain a document stream into shard-partitioned parquet with
    append-only shard continuation (see module docstring for the
    commit protocol).

    Per microbatch (foreachBatch):
      1. skip if this batch_id is already committed (manifest marker);
      2. continuation base = Σ shard_tokens over the delta log (one
         aggregate — no driver-side shard list);
      3. ``incremental_shard_plan`` packs the batch after that base;
         the plan is locally checkpointed once so the shard write and
         the manifest delta derive from one materialized frame;
      4. rows land under (batch_id, shard_id) partitions in shuffle
         order via dynamic overwrite; the manifest delta appends LAST.
    """

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        process_export_batch(
            batch_df,
            batch_id,
            sink_dir,
            manifest_dir,
            text_col=text_col,
            key_col=key_col,
            token_budget=token_budget,
            salt=salt,
        )

    q = (
        stream_df.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def export_packed_sequences(
    seqs: DataFrame,
    sink_dir: str,
    manifest_dir: str,
    token_budget: int = 1 << 22,
    batch_id: int = 0,
    salt: str = "shuffle",
) -> DataFrame:
    """Token-budgeted shard export of PACKED training sequences —
    ``pack_token_ids`` output ``(seq_id, ids, n_tokens)`` — through the
    same delta-log commit protocol as the streaming text export: shard
    rows land under ``(batch_id, shard_id)`` partitions via dynamic
    overwrite, the manifest delta appends LAST as the commit marker,
    and a replay of an already-committed ``batch_id`` is a no-op.
    Weights are the EXACT packed token counts (no re-tokenization — the
    sequences already know their length). Returns the aggregated shard
    manifest (shard_id, n_docs, shard_tokens).

    This is the last stage of the pretraining data lifecycle
    (``pipelines.run_pretraining_pipeline`` composes it after
    build_training_corpus → tokenize_and_pack); the reference's
    directory-order consumption (train_adapters/
    RAG-eval-create_model.py:96-117) is replaced by budget-balanced,
    manifest-described, restart-safe shards.
    """
    spark = seqs.sparkSession
    deltas = read_if_present(spark, manifest_dir)
    if (
        deltas is not None
        and deltas.filter(F.col("batch_id") == batch_id).limit(1).count() > 0
    ):
        return read_shard_manifest(spark, manifest_dir)
    weighted = seqs.withColumn("__n_tok", F.col("n_tokens").cast("long"))
    plan = incremental_shard_plan(
        weighted, deltas, "seq_id", "__n_tok", token_budget, salt=salt
    ).localCheckpoint()
    _write_shards(plan, batch_id, sink_dir, "seq_id")
    _append_manifest(plan, batch_id, manifest_dir)
    return read_shard_manifest(spark, manifest_dir)
