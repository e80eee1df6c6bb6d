"""PySpark-native analytics engine with the query and data-processing
capabilities of the ``gia-baonguyen/azure-sales-etl-pipeline`` reference.

Subpackages / modules
---------------------
- ``session``    : SparkSession factory with scale-conscious defaults.
- ``catalog``    : testdata + medallion-layer table catalog.
- ``sources``    : CSV infer/pin ingestion lifecycle, watermark-windowed
                   incremental extract (JDBC-shaped).
- ``operators``  : engine machinery — watermark store, hash-diff SCD2
                   upsert, parquet sinks with schema-evolving append.
- ``functions``  : reusable column expressions (hash-diff, safe ratios,
                   vector math).
- ``plans``      : the query library — every entry in the driver contract's
                   ``queries()`` registry, grouped by domain (gold,
                   relational, incremental, dedup, similarity, textops).
- ``streaming``  : Structured Streaming variants — windowed event-time
                   aggs with watermarks, foreachBatch checkpointed ingest.
- ``pipeline``   : the medallion orchestrator (Landing->Bronze->Silver).
"""

__version__ = "0.1.0"
