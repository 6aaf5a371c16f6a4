"""Loaders for the harness parquet tables.

Plain ``spark.read.parquet`` so Catalyst gets full pushdown: filters and
column pruning written against these frames reach the parquet scan
(check with ``df.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})

# (application id, sf_dir, name) -> DataFrame. DataFrames are immutable
# plans, so handing the same object to every query built in a session is
# safe — and saves the ~90ms py4j/footer round-trip spark.read.parquet
# costs per call (bench builds dozens of queries, each loading 1-4
# tables). Keyed on the Spark application id, so a fresh JVM can never be
# served another JVM's plans; a dead session fails loudly on the
# applicationId access instead of returning a stale frame.
_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from an ``sf_dir`` (e.g. /root/testdata/sf0.01).

    ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark's vectorized
    reader rejects; it is read as raw nanos (``nanosAsLong``) and converted
    to a microsecond timestamp by truncation — the same ns→µs truncation
    DuckDB applies, so the two engines agree to the microsecond.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _CACHE.get(key)
    if cached is not None:
        return cached
    df = _read_table(spark, sf_dir, name)
    _CACHE[key] = df
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = raw.schema["ts"].dataType
        # Type-driven: ns-as-long gets truncated to µs; Spark 4.1 reads
        # TIMESTAMP(NANOS) as TIMESTAMP_NTZ (µs-truncated) even with
        # nanosAsLong set, and a plain NTZ→TIMESTAMP cast interprets the
        # wall clock in the SESSION timezone — every downstream epoch-ms
        # value would shift on a non-UTC driver session. The parquet
        # wall clock is UTC by contract (DuckDB's epoch_ms reads it that
        # way), so convert via tz-free NTZ arithmetic: micros since the
        # NTZ epoch literal → timestamp_micros (an absolute instant).
        if isinstance(ts_type, T.LongType):
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, T.TimestampNTZType):
            micros = F.timestamp_diff(
                "MICROSECOND",
                F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
                F.col("ts"),
            )
            return raw.withColumn("ts", F.timestamp_micros(micros))
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; defaults to all of them."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


# Post-scan spread gate (OPTIMIZATION r16): only inputs smaller than
# this are worth a pre-aggregation repartition — above it the scan has
# enough row groups for split-level parallelism and a fact-table
# shuffle before a partial aggregation is a scale anti-pattern.
# Env-overridable for cluster tuning; 256 MiB local default.
import os as _os

SPREAD_MAX_BYTES = int(
    _os.environ.get("SPARK_GRAFT_SPREAD_MAX_MB", "256")
) * (1 << 20)


def spread_small_scan(
    df: DataFrame, spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Spread a CPU-heavy aggregate's input across the cores when the
    scan itself cannot (OPTIMIZATION r16, guide §2.6 idle capacity).

    Parquet scan tasks read whole row groups, and the harness testdata
    is written as ONE row group per file — so the 10.8 MB lineitem scan
    runs ONE working task no matter how the splits are configured
    (VERDICT r15 #1's openCostInBytes floor only manufactures empty
    tasks; measured, see OPTIMIZATION_r16.md). For the keys whose CPU
    is concentrated in that scan-side partial aggregate (exact
    percentiles, decimal power sums), moving the rows once (~11 MB)
    buys 32-way parallelism: measured 1.2-1.6x per key
    (OPTIMIZATION_r16.md, interleaved fresh-JVM A/B; the probe script
    is in git history).

    Scale safety: the repartition only applies when the table's on-disk
    size is under ``SPREAD_MAX_BYTES`` — at production sizes the scan
    has row groups >> cores and the branch never fires (and a fact
    shuffle ahead of a partial agg would be a pessimization). Non-local
    paths (object stores) skip the spread. Results are unchanged: the
    consumers aggregate with order-independent exact arithmetic
    (decimal-grid sums, exact order statistics)."""
    path = _os.path.join(sf_dir, f"{name}.parquet")
    try:
        if _os.path.isfile(path):
            size = _os.path.getsize(path)
        elif _os.path.isdir(path):
            size = sum(
                _os.path.getsize(_os.path.join(root, f))
                for root, _, files in _os.walk(path)
                for f in files
            )
        else:
            return df
    except OSError:
        return df
    if size >= SPREAD_MAX_BYTES:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)
