"""Sweep grids: the reference's nested config loops as relations.

Reference: 5 domains × 20 epochs (train_adapters/create_all_models_json_data.py:29-36),
6 adapter types × epochs × 6 tasks (llm_harness_evaluation/
test_all_models_llm_eval_sophia.py:38-47), with string-keyed outputs and
skip-if-exists gating. Here a grid is a crossJoin of small config frames
(each side broadcast-sized by construction) and "work remaining" is the
manifest anti-join — the whole sweep-planning stage is one Catalyst plan.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import NullType, StructField, StructType

from biodata_pipeline_spark.sources.local import local_frame


def sweep_grid(spark: SparkSession, dims: dict[str, list]) -> DataFrame:
    """Cartesian product of named dimension value-lists.

    ``sweep_grid(spark, {"adapter_type": [...], "epoch": [...], "task": [...]})``
    → one row per grid cell. Dimension frames are tiny; the crossJoins are
    broadcast nested-loop joins with no shuffle.
    """
    if not dims:
        raise ValueError("at least one dimension required")
    out: DataFrame | None = None
    for name, values in dims.items():
        # Arrow infers each column's type (int → long, float → double,
        # str → string); an empty or all-null list has none
        dtype = from_arrow_type(pa.array(values).type)
        if isinstance(dtype, NullType):
            raise ValueError(f"cannot infer a type for dimension {name!r}")
        d = local_frame(
            spark, [(v,) for v in values], StructType([StructField(name, dtype)])
        )
        out = d if out is None else out.crossJoin(F.broadcast(d))
    return out


def grid_output_key(cols: list[str], sep: str = "_") -> F.Column:
    """The reference's filename-as-primary-key convention
    (``{type}_{epoch}_{task}_{shots}``) as a real column."""
    return F.concat_ws(sep, *[F.col(c).cast("string") for c in cols])


def work_remaining(grid: DataFrame, done: DataFrame, keys: list[str]) -> DataFrame:
    """Grid cells not yet completed (left_anti against the done manifest)."""
    return grid.join(F.broadcast(done.select(*keys).distinct()), keys, "left_anti")


def runnable_work(grid: DataFrame, available: DataFrame, keys: list[str]) -> DataFrame:
    """Grid cells whose prerequisites exist (left_semi against availability:
    the reference skips epochs with no matching adapter dir,
    rag_evaluation/test_all_models.py:38-44)."""
    return grid.join(F.broadcast(available.select(*keys).distinct()), keys, "left_semi")


def expand_grid_over(data: DataFrame, grid: DataFrame) -> DataFrame:
    """Every grid cell sees the full dataset (the reference trains the same
    domain file at every epoch step): data × broadcast(grid). At scale the
    big side streams once per cell without shuffling — the grid is the
    broadcast side by construction."""
    return data.crossJoin(F.broadcast(grid))


def grid_apply(data: DataFrame, keys: list[str], fn, schema) -> DataFrame:
    """Grouped-map hook for per-cell work (SURVEY §2.12: the reference runs
    one LoRA training per grid cell, train_adapters/RAG-eval-create_model.py:
    119-165 driven by create_all_models_json_data.py:41-74).

    ``fn(pdf) -> pdf`` runs once per grid cell via Arrow-batched
    ``applyInPandas`` — model work stays out-of-engine; the engine owns the
    grid shuffle (one hash partition per cell), data prep, and metric
    collection. The returned frame is whatever ``fn`` emits per cell
    (typically one metrics row)."""
    return data.groupBy(*keys).applyInPandas(fn, schema=schema)
