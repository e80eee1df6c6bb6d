"""Landing→Bronze CSV ingestion
(/root/reference/databricks_notebooks/1_Landing_to_Bronze.py re-expressed).

Lifecycle per table (faithful to the reference):
- discover per-table files under the landing root, skipping `_`-prefixed
  entries (S10; 1_Landing_to_Bronze.py:12,17-21)
- FIRST load: header + inferSchema (S1; :44-46). Note the reference
  accepts the inferSchema DECIMAL→double degradation (SURVEY §1.2) —
  so does the engine.
- SUBSEQUENT loads: pin the reader to the existing Bronze schema minus
  the engine-added audit columns (S2; :41-42) so types never drift; a
  batch that adds a column is inferred and cast back (``ingest``).
- enrich with audit columns: ingestion_timestamp (injectable clock, F1)
  and source_file lineage (F2; :54-55)
- append with schema evolution (S5, ``operators.writer.append_evolve``;
  :59-62), which also creates the table on first write (S6; :65-67)
- empty input short-circuits (P12; :49). The reference asks Spark
  (``df.rdd.isEmpty()``); the engine reads each landing file's header
  and checks for a data line after it on the driver
  (``landing_header``), so neither probe fires a Spark job. A compressed
  landing is left to Spark: the header and the empty check are a job
  each

Scale: CSV read parallelism is per-file/per-split; the audit columns are
pure map. The append itself writes without shuffle. At 100 TB you'd
land compressed CSV in many files — the files within a table load as
one distributed job, and ``run`` loads the tables concurrently
(``functions.concurrent_map``), each writing only its own Bronze table.
"""

from __future__ import annotations

import csv
import datetime as dt
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..catalog import table_exists
from ..functions import concurrent_map, utcnow_naive
from ..observe import described
from ..operators.writer import append_evolve, table_schema

AUDIT_COLS = ("ingestion_timestamp", "source_file")

#: The suffixes Hadoop picks a compression codec by: such landing files
#: are left to Spark.
_CODECS = (".bz2", ".deflate", ".gz", ".lz4", ".snappy", ".zst")


def discover_sources(landing_root: str) -> dict[str, str]:
    """Per-table landing dirs/files, `_`-prefixed entries skipped."""
    root = Path(landing_root)
    out: dict[str, str] = {}
    if not root.exists():
        return out
    for entry in sorted(root.iterdir()):
        if entry.name.startswith("_"):
            continue
        name = entry.stem if entry.is_file() else entry.name
        out[name] = str(entry)
    return out


def landing_header(csv_path: str) -> tuple[list[str] | None, bool] | None:
    """What Spark's CSV reader finds at ``csv_path``, read on the
    driver: ``(header, has_rows)``. ``header`` is the column list every
    file's header shares, None when they disagree; ``has_rows`` says
    whether any file has a line after its header. Spark reads the file,
    or every file under the directory whose path has no ``_``- or
    ``.``-prefixed part; it skips a UTF-8 byte-order mark and blank
    lines, and each file's first remaining line is its header. Returns
    None when a file is compressed."""
    root = Path(csv_path)
    files = [root] if root.is_file() else sorted(
        f for f in root.rglob("*")
        if f.is_file() and not any(p.startswith(("_", ".")) for p in f.relative_to(root).parts)
    )
    headers, has_rows = set(), False
    for f in files:
        if f.suffix in _CODECS:
            return None
        with open(f, encoding="utf-8-sig", errors="replace") as lines:
            filled = (line for line in lines if line.strip())
            header = next(filled, None)
            if header is not None:
                headers.add(tuple(next(csv.reader([header]))))
                has_rows = has_rows or next(filled, None) is not None
    return (list(headers.pop()) if len(headers) == 1 else None), has_rows


class CsvIngestor:
    """Landing→Bronze for one layer root pair."""

    def __init__(
        self,
        spark: SparkSession,
        bronze_root: str,
        clock: Callable[[], dt.datetime] | None = None,
    ):
        self.spark = spark
        self.bronze_root = Path(bronze_root)
        self.clock = clock or utcnow_naive

    def bronze_path(self, table: str) -> str:
        return str(self.bronze_root / table)

    def _pinned_schema(self, table: str) -> StructType | None:
        """Existing Bronze schema minus audit columns — the reader pin
        (reference reads the Delta schema and imposes it, :41-42)."""
        path = self.bronze_path(table)
        if not table_exists(path):
            return None
        full = table_schema(self.spark, path)
        return StructType([f for f in full.fields if f.name not in AUDIT_COLS])

    def ingest(self, table: str, csv_path: str) -> int:
        """Load one table's landing CSV into Bronze. Returns rows ingested
        (0 = empty short-circuit, nothing written).

        Divergence from the reference, deliberate: imposing the pinned
        StructType on the CSV reader (1_Landing_to_Bronze.py:41-42)
        silently DROPS columns the batch added, so mergeSchema-on-write
        never sees them. The engine reads the header first, on the
        driver (``landing_header``): a batch whose files share a header
        of columns the table already has is parsed with the pinned types
        in header order (FAILFAST, so a malformed value fails the load),
        with no inference pass. A batch that adds a column, or whose
        files' headers disagree, is inferred, then the already-known
        columns are cast back to their pinned types — type drift is
        still impossible, but new columns survive to evolve the table.
        On the pinned path the write is the load's one Spark job.
        """
        probe = landing_header(csv_path)
        if probe is not None and not probe[1]:
            return 0
        pinned = self._pinned_schema(table)
        reader = self.spark.read.option("header", "true")
        types = {f.name: f.dataType for f in pinned.fields} if pinned else {}
        if not pinned:
            names = None
        elif probe is None:  # compressed: Spark reads the header
            names = reader.csv(csv_path).columns
        else:
            names = probe[0]
        if names and all(c in types for c in names):
            df = (
                reader.schema(StructType([StructField(c, types[c]) for c in names]))
                .option("mode", "FAILFAST")
                .csv(csv_path)
            )
        else:
            df = reader.option("inferSchema", "true").csv(csv_path)
        # Capture lineage BEFORE any projection: the _metadata pseudo-column
        # only resolves against the file-source relation (F2).
        df = df.withColumn("source_file", F.col("_metadata.file_path"))
        if types:
            df = df.select(
                *[
                    F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
                    for c in df.columns
                ]
            )
        if probe is None and df.isEmpty():
            return 0
        # The ingested-rows count rides the WRITE job via the Observation
        # API instead of a second count() pass — at 100 TB that second
        # pass re-reads the whole landing batch for one log number.
        obs = Observation()
        enriched = df.withColumn(
            "ingestion_timestamp", F.lit(self.clock()).cast("timestamp")
        ).observe(obs, F.count(F.lit(1)).alias("n"))
        append_evolve(self.spark, enriched, self.bronze_path(table))
        return int(obs.get["n"])

    def run(self, landing_root: str) -> dict[str, int | None]:
        """Ingest every discovered table, concurrently, with error
        isolation (C3; the reference skips missing-path tables and
        raises on real errors, 1_Landing_to_Bronze.py:71-73). Returns
        per-table row counts in discovery order, None for tables that
        failed. Each table's jobs are described ``ingest:<table>``."""
        sources = discover_sources(landing_root)
        return dict(zip(sources, concurrent_map(self._isolated, sources.items())))

    def _isolated(self, source: tuple[str, str]) -> int | None:
        table, path = source
        with described(self.spark, f"ingest:{table}"):
            try:
                return self.ingest(table, path)
            except Exception:  # noqa: BLE001 — per-table isolation
                return None


def land_batch(
    df: DataFrame,
    landing_root: str,
    table: str,
    clock: Callable[[], dt.datetime] | None = None,
    quote_all: bool = True,
) -> str:
    """ADF Copy-sink parity for the LANDING side: write one extracted
    batch as ``<landing_root>/<table>/<table>_<yyyyMMddHHmmss>.csv`` —
    the reference's timestamped landing-file naming convention
    (README.MD:89) with quoteAll text (S12, adf/pipeline.json:135-145).
    Spark writers name their own part files, so the batch stages
    through a temp dir and the single part renames to the convention;
    returns the final path. Batches accumulate (one file per extract
    window) and ``CsvIngestor.run`` reads the whole per-table dir."""
    import glob as _glob
    import shutil
    import tempfile

    ts = (clock or utcnow_naive)()
    dest_dir = Path(landing_root) / table
    dest_dir.mkdir(parents=True, exist_ok=True)
    stage = tempfile.mkdtemp(prefix=f"land_{table}_")
    try:
        writer = df.coalesce(1).write.option("header", True)
        if quote_all:
            writer = writer.option("quoteAll", True)
        writer.csv(f"{stage}/out")
        (part,) = _glob.glob(f"{stage}/out/part-*.csv")
        final = dest_dir / f"{table}_{ts:%Y%m%d%H%M%S}.csv"
        shutil.move(part, final)
        return str(final)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
