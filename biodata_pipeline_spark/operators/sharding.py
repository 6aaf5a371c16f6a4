"""Training-export layout: deterministic corpus shuffle, global prefix
sums, and token-budgeted shard planning.

The reference materializes its working set as one directory of
per-genome text files consumed in directory order
(data_generation/generate_narratives_from_data.py:63-72) — fine for 4k
files, but a 100 TB corpus must be (a) SHUFFLED so a training reader
sees i.i.d.-ish data without a seek per document, and (b) cut into
shards whose TOKEN counts (not file counts) match the budget a loader
maps to one worker. Both must be deterministic: re-running the export
on the same corpus must produce byte-identical shard assignments
(resumable exports, cross-run diffability, oracle checks).

Three pieces, all engine-checkable:

* ``shuffle_hash`` — the order key: md5 of (salt ‖ key). A seeded,
  engine-portable stand-in for rand() (same contract as
  operators/sampling.py, which SURVEY §2.3's rows-only assumption
  underestimated).
* ``ordered_prefix_sum`` — EXACT global running totals over a total
  order, distributed: split the order into buckets (derived from the
  data via ``hex_prefix_bucket`` when the key is uniform hex, else by
  range partitioning with pinned assignment), collect one total per
  bucket (aggregate-sized by construction), broadcast the exclusive
  bucket offsets back, and finish with a per-bucket window. No global
  single-partition window anywhere — the classic two-phase scan/prefix
  pattern, so the same plan holds at any corpus size.
  (`operators/packing.py::pack_sequences` documents the
  per-group-window limitation this lifts.)
* ``shard_plan`` — cut the shuffled order into contiguous shards at
  multiples of a token budget: ``shard_id = (running_total_before_row)
  // budget``. A document straddling a boundary belongs to the shard
  where it starts (loader convention); shards are therefore within one
  document of the budget, never split a document, and are stable under
  reprocessing of the same corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from biodata_pipeline_spark.sources.local import local_frame

# one collect per prefix-sum: exactly num_partitions rows (named bound)
PREFIX_SUM_MAX_PARTS = 4096


def shuffle_hash(key, salt: str = "shuffle") -> Column:
    """Deterministic shuffle-order key: 32-hex md5 of (salt ‖ key).
    Different salts draw independent permutations of the same corpus."""
    key = F.col(key) if isinstance(key, str) else key
    return F.md5(F.concat(F.lit(salt), key.cast("string")))


def assign_shards_mod(key, n_shards: int, salt: str = "shard") -> Column:
    """Count-balanced shard id: the first 8 hex digits of the salted md5
    mod ``n_shards`` — a pure map expression (no shuffle), uniform over
    shards for any n_shards ≪ 16⁸."""
    key = F.col(key) if isinstance(key, str) else key
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return F.pmod(bucket, F.lit(n_shards)).cast("long")


def ordered_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_total",
    num_partitions: int | None = None,
    bucket_of=None,
) -> DataFrame:
    """Exclusive global prefix sum of ``value_col`` over the total order
    given by ``order_cols`` (which MUST be a total order — include a
    unique tie-break column), without a global single-partition window.

    Output = input + ``out_col`` (sum of values strictly before this row
    in the global order). Two bucketing strategies:

    * ``bucket_of`` given — a Column mapping each row to a bucket id in
      [0, num_partitions) that is MONOTONE in the order (x ≤ y ⇒
      bucket(x) ≤ bucket(y)). Buckets come from the data, so no range
      sampling pass, no pinned physical partitioning, and the expensive
      upstream projection is computed in exactly two cheap jobs (bucket
      totals aggregate + per-bucket window). This is the path
      ``shard_plan`` uses: its order key is a uniform md5 hex string,
      so the integer value of a hex prefix is both monotone and
      balanced.
    * otherwise — ``repartitionByRange`` + ``spark_partition_id``. The
      result is invariant to where the range partitioner cuts, but the
      partitioning must be PINNED (persisted) so the offsets job and
      the window job see identical assignments (range boundaries are
      resampled per job otherwise), and the range sampler costs an
      extra pass over the input.

    Either way the input's narrow projection is persisted (scoped via
    ``register_cached``) so an expensive upstream — e.g. tokenizing
    every document for its weight — runs once, not once per job.
    """
    from biodata_pipeline_spark.operators.caching import register_cached

    spark = df.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    if parts > PREFIX_SUM_MAX_PARTS:
        raise ValueError(
            f"num_partitions={parts} exceeds PREFIX_SUM_MAX_PARTS="
            f"{PREFIX_SUM_MAX_PARTS} (the offsets collect is one row per "
            "partition; raise the bound deliberately, not by accident)"
        )
    order = [F.col(c) for c in order_cols]
    if bucket_of is not None:
        keyed = register_cached(
            df.withColumn("__pid", bucket_of.cast("int")).persist()
        )
    else:
        keyed = register_cached(
            df.repartitionByRange(parts, *order)
            .withColumn("__pid", F.spark_partition_id())
            .persist()
        )
    totals = keyed.groupBy("__pid").agg(
        F.sum(F.col(value_col)).cast("long").alias("__t")
    ).collect()  # ≤ PREFIX_SUM_MAX_PARTS rows
    running = 0
    offsets = []
    for row in sorted(totals, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], running))
        running += row["__t"] or 0
    off = local_frame(spark, offsets, "__pid int, __off long")
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum(F.col(value_col)).over(w), F.lit(0))
    return (
        keyed.join(F.broadcast(off), "__pid")
        .withColumn(out_col, (F.col("__off") + within).cast("long"))
        .drop("__pid", "__off")
    )


def hex_prefix_bucket(col, num_buckets: int) -> Column:
    """Monotone, balanced bucket id for a lowercase-hex order key: the
    first 4 hex digits as an integer, scaled to [0, num_buckets).
    Lexicographic order of lowercase hex equals numeric order of the
    prefix, so bucket boundaries respect the sort order — the
    ``bucket_of`` contract of ``ordered_prefix_sum`` — and an md5 key
    makes the buckets uniform."""
    if not 1 <= num_buckets <= 65536:
        raise ValueError("num_buckets must be in [1, 65536]")
    col = F.col(col) if isinstance(col, str) else col
    v = F.conv(F.substring(col, 1, 4), 16, 10).cast("long")
    # v·B ≤ 65535·65536 < 2⁵³ — the double product is exact, floor is safe
    return F.floor(v * num_buckets / F.lit(65536)).cast("int")


def shard_plan(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    budget: int,
    salt: str = "shuffle",
    num_partitions: int | None = None,
) -> DataFrame:
    """Token-budgeted contiguous shards over the deterministic shuffle
    order: adds ``__ord`` (the shuffle key), ``token_offset`` (exclusive
    running total) and ``shard_id`` (offset // budget)."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    spark = df.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    ordered = df.withColumn("__ord", shuffle_hash(key_col, salt))
    summed = ordered_prefix_sum(
        ordered,
        ["__ord", key_col],
        weight_col,
        out_col="token_offset",
        num_partitions=parts,
        # md5 hex key ⇒ the hex-prefix bucket is monotone and balanced:
        # no range-sampling pass, buckets derived from the data
        bucket_of=hex_prefix_bucket("__ord", parts),
    )
    return summed.withColumn(
        "shard_id", F.floor(F.col("token_offset") / budget).cast("long")
    )


def incremental_shard_plan(
    new_docs: DataFrame,
    manifest: DataFrame | None,
    key_col: str,
    weight_col: str,
    budget: int,
    salt: str = "shuffle",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append-only shard planning: assign ONLY the new documents to
    shards, continuing after the tokens already exported.

    A full re-export reshuffles everything — old shard files change and
    every downstream consumer (loader state, caches, resume points)
    invalidates. The incremental contract instead mirrors
    ``sources/manifest.py``'s skip-if-done semantics at the shard level:
    previously exported shards are IMMUTABLE; new docs are shuffled
    among themselves (same md5 order) and packed starting at the global
    token offset the manifest already accounts for. The price is that
    the combined corpus is shuffled per-batch, not globally — each
    batch's interleave is still reproducible, and a training run that
    consumes shards in id order sees batch-append order (the streaming
    ingest reality at 100 TB; a one-shot global shuffle of history +
    novelty would be a full rewrite by definition).

    ``manifest``: the frame ``export_training_shards`` /
    ``q_shard_manifest`` returns (needs ``shard_tokens``), or None for
    the first batch. The continuation offset is the manifest's TOTAL
    token sum — offsets are global cumulative token positions, so new
    docs begin in the last shard's budget window exactly iff the
    exported total hasn't crossed its boundary (a per-shard
    ``shard_id·budget + shard_tokens`` reconstruction would undercount
    whenever a document overhangs its window).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    base = 0
    if manifest is not None:
        row = manifest.agg(
            F.sum("shard_tokens").cast("long").alias("__t")
        ).collect()  # 1 row
        base = row[0]["__t"] or 0
    plan = shard_plan(
        new_docs, key_col, weight_col, budget, salt=salt,
        num_partitions=num_partitions,
    )
    # shift every offset by the already-exported total, then re-cut
    return plan.withColumn(
        "token_offset", (F.col("token_offset") + F.lit(base)).cast("long")
    ).withColumn(
        "shard_id", F.floor(F.col("token_offset") / budget).cast("long")
    )
