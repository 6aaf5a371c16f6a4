"""Small driver-built frames through Arrow, not a Python RDD.

In classic PySpark ``spark.createDataFrame(<list>)`` parallelizes the
pickled rows and converts them through a Python ``map``, so every job
that scans the frame starts Python-worker tasks — for a 4-row lookup
frame that is most of the job's cost. An Arrow table crosses to the JVM
once, as record batches, and a small one becomes a ``LocalRelation``:
no Python worker ever touches it, and the planner sees its real size.

``local_frame`` is the engine's only way to build a frame from driver
rows; ``tests/test_local_frame.py`` fails on a ``createDataFrame`` call
anywhere else in the package.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)``, built from an Arrow table.

    ``rows`` are tuples (or ``Row``s) in schema order. ``schema`` is a
    ``StructType`` or a DDL string (``"a int, b string"``)."""
    rows = [tuple(r) for r in rows]
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = [
        pa.array([r[i] for r in rows], type=field.type)
        for i, field in enumerate(arrow)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)
