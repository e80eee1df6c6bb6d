"""Table catalog over the driver's parquet testdata + medallion layers.

Mirrors the reference's path-constant + metadata-dict approach
(/root/reference/databricks_notebooks/2_Bronze_to_Silver.py:5-32) with a
plain-Python catalog: layer roots, table paths, an existence probe
(the reference's ``DeltaTable.isDeltaTable`` gate,
1_Landing_to_Bronze.py:36), and loaders for the TPC-H-ish testdata.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return str(Path(sf_dir) / f"{name}.parquet")


#: Catalog schema cache: path → the parquet schema Spark inferred on
#: first contact. ``spark.read.parquet`` re-infers the schema from file
#: footers on EVERY call — measured 82 ms of driver-side work per
#: ``load_table`` (94 ms infer vs 12 ms schema-pinned at sf0.1), paid
#: hundreds of times per bench pass because every query builds its
#: scans fresh. A production engine never pays this: the metastore
#: serves the schema and readers trust it. This is METADATA memoization
#: only — every query still scans and computes from the parquet data on
#: every invocation; the testdata tables this catalog fronts are
#: immutable, and test corpora live in per-test tmp dirs (unique
#: paths). Mutable engine-managed tables (medallion layers, marts) do
#: not use this cache: ``operators.writer.read_table`` pins their
#: schema from the version pointer each commit writes, so they skip
#: inference too and still see every schema change.
_SCHEMA_CACHE: dict[str, "object"] = {}


def evict_schema_cache() -> None:
    """Drop cached parquet schemas (test hook; the cache is
    path-keyed metadata, so eviction is never needed for correctness
    on the immutable testdata)."""
    _SCHEMA_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (columnar parquet; Catalyst prunes/pushes).

    ``events.ts`` is physically TIMESTAMP(NANOS) — Spark reads it as a
    nano-precision long (``spark.sql.legacy.parquet.nanosAsLong``) and we
    truncate to microseconds here, matching DuckDB's ns→µs cast of the
    same file. The conf is runtime-settable, so set it here (not only in
    the session factory) so reads work on ANY caller-supplied session.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    cached = _SCHEMA_CACHE.get(path)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # Integer `div`, NOT `/`: float division of an int64 epoch-nanos
        # loses precision (2^53 < 1.7e18) and drifts by ±1µs.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
        from pyspark.sql import functions as F

        # Newer testdata writes plain TIMESTAMP(MICROS) parquet, which
        # Spark 4 infers as TIMESTAMP_NTZ. The session tz is pinned UTC, so
        # the cast is value-preserving, and event-time watermarks (which
        # reject NTZ) plus everything downstream see one canonical type.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def table_exists(path: str) -> bool:
    """Existence probe for an engine-managed parquet table.

    Replaces the reference's ``DeltaTable.isDeltaTable(spark, path)``
    (1_Landing_to_Bronze.py:36, 2_Bronze_to_Silver.py:74): a table
    exists when its version pointer commits one, or, in the legacy flat
    layout, when its directory holds data files or a ``_SUCCESS``
    marker (``operators.writer._table_dir``).
    """
    from .operators.writer import _table_dir

    return _table_dir(path) is not None


class LayerCatalog:
    """Medallion layer roots: landing/bronze/silver/gold namespaces
    (reference path constants, 1_Landing_to_Bronze.py:5-6,
    3_Silver_to_Gold.py:4-5)."""

    LAYERS = ("landing", "bronze", "silver", "gold", "state")

    def __init__(self, root: str):
        self.root = Path(root)

    def layer_root(self, layer: str) -> Path:
        if layer not in self.LAYERS:
            raise ValueError(f"unknown layer {layer!r}; expected one of {self.LAYERS}")
        return self.root / layer

    def path(self, layer: str, table: str) -> str:
        return str(self.layer_root(layer) / table)

    def exists(self, layer: str, table: str) -> bool:
        return table_exists(self.path(layer, table))
