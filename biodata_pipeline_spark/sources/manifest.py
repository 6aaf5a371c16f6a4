"""Completion manifests — the engine's incremental-processing primitive.

The reference's signature pattern is skip-if-exists: one output file per
work unit, ``os.path.exists`` gating recompute
(generate_narratives_from_data.py:63-65, create_all_models.py:43-47,
test_all_models_llm_eval_sophia.py:50-52). Filesystem existence checks do
not scale and are not transactional; the engine replaces them with a
*manifest table* of completed keys plus a ``left_anti`` join:

    pending = work.join(manifest_df, keys, "left_anti")

At 100 TB the manifest stays small relative to the data (one row per work
unit), is broadcast when under the broadcast threshold, and the anti-join
is Catalyst-planned (BroadcastHashJoin for small manifests — no shuffle on
the big side). Run-twice ⇒ zero new work, which is the reference's
at-least-once → effectively-exactly-once recipe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from biodata_pipeline_spark.sources.local import local_frame
from biodata_pipeline_spark.sources.store import read_if_present


class Manifest:
    """A parquet-backed set of completed work-unit keys."""

    def __init__(self, path: str, key_cols: tuple[str, ...]):
        self.path = path
        self.key_cols = tuple(key_cols)

    def read(self, spark: SparkSession) -> DataFrame:
        """Completed keys (empty frame with the right schema if none yet).

        Only a missing or empty path means "first run"; any other read
        failure (corrupt files, permissions, transient IO) propagates —
        treating those as empty would silently re-run all work and feed
        duplicate rows to append sinks.
        """
        done = read_if_present(spark, self.path)
        if done is not None:
            return done.select(*self.key_cols).distinct()
        schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in self.key_cols]
        )
        return local_frame(spark, [], schema)

    def pending(self, work: DataFrame) -> DataFrame:
        """Rows of ``work`` whose keys are not yet in the manifest."""
        spark = work.sparkSession
        done = self.read(spark)
        # Align key types with the work side so the anti-join never falls
        # back to a cast-defeated comparison.
        for c in self.key_cols:
            done = done.withColumn(c, F.col(c).cast(work.schema[c].dataType))
        return work.join(F.broadcast(done), list(self.key_cols), "left_anti")

    def mark_done(self, completed: DataFrame) -> None:
        """Append completed keys (idempotent: duplicates collapse on read)."""
        completed.select(*self.key_cols).distinct().write.mode("append").parquet(
            self.path
        )


def run_incremental(
    work: DataFrame,
    manifest: Manifest,
    transform,
    sink,
) -> int:
    """Drive one incremental cycle: pending → transform → sink → mark done.

    Returns the number of work units completed this cycle. Calling it again
    immediately plans zero work — the anti-join sees the appended keys.
    """
    # Materialize the pending set ONCE: it feeds three consumers (the
    # transform→sink chain, mark_done, and the returned count) — without
    # this each action re-plans the anti-join and re-runs the transform's
    # upstream, and a non-deterministic pending set could mark keys done
    # that the sink never saw.
    todo = manifest.pending(work).localCheckpoint()
    if todo.isEmpty():
        return 0
    result = transform(todo)
    sink(result)
    manifest.mark_done(todo)
    return todo.count()
