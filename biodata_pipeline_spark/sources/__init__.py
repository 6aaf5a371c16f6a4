from biodata_pipeline_spark.sources.tables import TABLES, load_table
from biodata_pipeline_spark.sources.text import (
    read_jsonl,
    read_tsv_pairs,
    read_text_lines,
)
from biodata_pipeline_spark.sources.manifest import Manifest
from biodata_pipeline_spark.sources.sinks import (
    idempotent_append,
    overwrite_vector_store,
    write_json_metrics,
    write_partitioned,
    write_report,
)

__all__ = [
    "TABLES",
    "load_table",
    "read_text_lines",
    "read_tsv_pairs",
    "read_jsonl",
    "Manifest",
    "write_partitioned",
    "write_json_metrics",
    "write_report",
    "overwrite_vector_store",
    "idempotent_append",
]
