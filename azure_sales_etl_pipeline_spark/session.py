"""SparkSession factory.

Defaults are chosen for the dual target: correct on ``local[32]`` test
runs, and sane on a 1000-executor cluster reading 100 TB — AQE on
(runtime re-planning, skew-join splitting, partition coalescing),
shuffle partitions sized by env, UTC session time zone so date/time
functions are deterministic and match the DuckDB oracle, Arrow enabled
for the few Pandas-UDF extension operators.

The reference pins none of this (Databricks defaults); see
/root/reference/databricks_notebooks/*.py which create no session of
their own.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Runtime re-planning: auto-broadcast, skew-join splitting, shuffle
    # partition coalescing. Essential at 100 TB where static plans misjudge.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic date/time semantics (oracle parity with DuckDB's
    # timezone-naive TIMESTAMP).
    "spark.sql.session.timeZone": "UTC",
    # Arrow batching for the pandas_udf extension operators.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: no schema merge by default. A pointer table's read
    # takes the schema its commit pinned; only the legacy fallback read
    # (a pointer without a schema, or the flat layout) merges, per read.
    "spark.sql.parquet.mergeSchema": "false",
    "spark.sql.parquet.filterPushdown": "true",
    # The driver testdata's events.parquet stores TIMESTAMP(NANOS), which
    # Spark rejects outright; read as long and convert in the catalog
    # (catalog.load_table) — DuckDB equivalently truncates ns → µs.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Partitioned upsert rewrites only the partitions it touches.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Scan split size. Local profile defaults to 8m so the single-file
    # testdata parquet still fans out across cores (a 40 MB lineitem →
    # 5 tasks instead of 1); a real cluster reading 128-512 MB files
    # should export SPARK_GRAFT_MAX_PARTITION_BYTES=128m to avoid
    # task-scheduling overhead at 100 TB.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"
    ),
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Sketch aggregates (approx_count_distinct/HLL, percentile_approx)
    # run under ObjectHashAggregate, which silently falls back to
    # SORT-based aggregation after only 128 distinct keys per partition
    # — at a 600k-group grain that's a full sort of sketch objects
    # (measured ~30% slower and GC-variance-prone). Partial sketches are
    # ~100 B each, so a multi-million-key hash map is still far smaller
    # than one shuffle partition; keep the hash path.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "10000000",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "pyspark-sales-analytics-engine",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine SparkSession."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
