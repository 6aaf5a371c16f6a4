"""SparkSession factory with scale-aware defaults.

Defaults target the test harness (local[N], single JVM) but every knob is
chosen so the same code runs unchanged on a multi-executor cluster:
AQE handles runtime coalescing/skew, shuffle partitions default to the
local core count (override via ``spark.sql.shuffle.partitions`` on a real
cluster), Arrow is enabled for the few Pandas-UDF paths, and the session
timezone is pinned to UTC so timestamp semantics are portable (and match
the DuckDB oracle used by the test harness).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

HEAP_MIN_MB, HEAP_MAX_MB = 1024, 16384


def host_heap() -> str:
    """Local driver heap: a quarter of the memory this process may use
    (the smaller of ``MemTotal`` and the cgroup ``memory.max``), clamped
    to [1g, 16g]. A fixed heap sized for a bigger machine lets the JVM
    grow until the kernel OOM-kills it."""
    with open("/proc/meminfo") as f:
        usable = next(
            int(line.split()[1]) * 1024
            for line in f
            if line.startswith("MemTotal:")
        )
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            usable = min(usable, int(raw))
    except OSError:
        pass
    return f"{max(HEAP_MIN_MB, min(HEAP_MAX_MB, usable // 4 // 2**20))}m"


def get_spark(
    app_name: str = "biodata-pipeline-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: the cores
    this process may run on); the local driver heap is ``host_heap()``.
    ``extra_conf`` wins over both. On a real cluster the ``master``
    setting is supplied externally and this builder's master/memory
    settings are ignored by spark-submit.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # OPTIMIZATION r16 (guide §3.1/§9): let the planner pick
        # shuffled-hash join where its size conditions hold — measured
        # 0.81-0.94 total across the SMJ-carrying headline keys
        # (interleaved fresh-JVM A/B, OPTIMIZATION_r16.md change 3);
        # sort-merge remains the automatic fallback when the build side
        # would not fit.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # OPTIMIZATION r16 (guide §2.6): AQE's 1 MB coalesce floor left
        # the audits' ~4 MB shuffles on 3 reduce tasks (29 idle cores);
        # 256k keeps small shuffles parallel. Only binds shuffles under
        # ~cores×256k — production shuffles are governed by the
        # advisory partition size, so this is a small-input floor, not
        # a local[32] tuning.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "256k"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # Only force a local master when none is configured (tests/bench); on a
    # cluster, SPARK_MASTER (or spark-submit's --master) wins. Do NOT treat
    # SPARK_SUBMIT_OPTS as a cluster signal — it carries plain JVM options
    # (this environment sets it for ivy), and skipping this branch because
    # of it once left the driver on the 1g default heap (OOM at 100× data).
    if not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", host_heap()
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
