"""``sources.local.local_frame``: driver rows → a frame built from an
Arrow table. It must be a drop-in for ``createDataFrame(list)`` — same
schema, same rows — without the list path's Python-worker lineage."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from biodata_pipeline_spark.operators.grid import sweep_grid
from biodata_pipeline_spark.sources.local import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "biodata_pipeline_spark"

# one case per schema shape the package builds from driver rows
CASES = [
    ([("input_docs", 10), ("final_docs", None)], "metric string, value long"),
    ([(0, 0), (1, 17), (2, None)], "__pid int, __off long"),
    (
        [(3, 1), (2, 1), (None, None)],
        StructType(
            [StructField("id", LongType()), StructField("component", LongType())]
        ),
    ),
    (
        [("b", "a"), ("a", "a")],
        StructType(
            [StructField("id", StringType()), StructField("component", StringType())]
        ),
    ),
    (
        [(0, [0.5, -1.25]), (1, None), (2, [None, 3.0]), (3, [])],
        "cell int, centroid array<double>",
    ),
    ([(0, 7, [1.0, 2.0])], "sub int, code int, centroid array<double>"),
    ([(0, "a", "b"), (1, "ab", None)], "rank int, left string, right string"),
    ([(1, "x", "y", "xy")], "step int, left string, right string, merged string"),
    ([(5,), (None,)], "id long"),
    ([("doc-1",)], "id string"),
    ([(1, 2, 0.75), (2, 1, None)], "id_a long, id_b long, sim double"),
    ([(0.2,), (0.9,)], "threshold double"),
    ([("q1", "spark"), ("q1", None)], "query_id string, term string"),
    (
        [(0, "spark"), (1, None)],
        StructType(
            [StructField("__qidx", LongType()), StructField("term", StringType())]
        ),
    ),
    ([], "id long, other_id long, jaccard double"),
    (
        [],
        StructType(
            [StructField("__qidx", LongType()), StructField("sim", DoubleType())]
        ),
    ),
    ([("low", 0.0, 1e4), ("high", 5e4, 1e9)], "band string, lo double, hi double"),
    ([("spark", 0), ("join", 1)], "term string, qvec long"),
]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("rows,schema", CASES)
def test_local_frame_matches_create_data_frame(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


@pytest.mark.parametrize(
    "values", [[0.2, 0.4], [1, 2], ["a", None], [True, False], [[1.0], [2.0, 3.0]]]
)
def test_sweep_grid_infers_the_list_path_types(spark, values):
    got = sweep_grid(spark, {"d": values})
    want = spark.createDataFrame([(v,) for v in values], ["d"])
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    assert "PythonRDD" not in _lineage(got)


@pytest.mark.parametrize("values", [[], [None]])
def test_sweep_grid_rejects_an_untyped_dimension(spark, values):
    with pytest.raises(ValueError):
        spark.createDataFrame([(v,) for v in values], ["d"])
    with pytest.raises(ValueError):
        sweep_grid(spark, {"d": values})


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_local_frame_runs_no_python_workers(spark):
    rows, schema = [(0, 0), (1, 17)], "__pid int, __off long"
    assert "PythonRDD" not in _lineage(local_frame(spark, rows, schema))
    assert "PythonRDD" in _lineage(spark.createDataFrame(rows, schema))


def test_package_builds_driver_frames_only_through_local_frame():
    """A ``createDataFrame(`` call anywhere in the package but the
    helper module brings the Python-worker lineage back."""
    helper = PACKAGE / "sources" / "local.py"
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != helper
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"createDataFrame\(", line)
    ]
    assert not offenders, offenders
