"""Per-table high-watermark store (SURVEY.md T1-T3, A5, F11).

The reference keeps one watermark per (layer, table): ADF stores it in
``dbo.adf_watermark`` (adf/pipeline.json:186-272), the Silver notebook
in a one-line text file (2_Bronze_to_Silver.py:44-67,143-147). The
engine uses a single-row parquet table per key, committed through
``writer.overwrite_table`` — atomic to replace, schema'd, and readable
by any engine. The value also rides the commit's metadata, so ``get``
reads it from the version pointer without a Spark job; ``set`` writes
the row from the driver, without one either. Missing state
defaults to 1900-01-01, the reference's full-history sentinel
(2_Bronze_to_Silver.py:44; adf/pipeline.json:129).

Commit ordering is the reference's at-least-once contract: the caller
advances the watermark only AFTER its write succeeds, so a crash replays
the window (old, new] — idempotent downstream by SCD2's no-change
detection.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table_exists
from ..functions import LocalRows, local_df
from .writer import overwrite_table, read_commit_meta, read_table
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

DEFAULT_WATERMARK = dt.datetime(1900, 1, 1)

_SCHEMA = StructType(
    [
        StructField("table_name", StringType(), False),
        StructField("watermark", TimestampType(), False),
    ]
)


class _WatermarkOps:
    """Window/advance logic shared by every watermark backend (the
    backend supplies ``get``/``set``)."""

    spark: SparkSession

    def get(self, table: str) -> dt.datetime:  # pragma: no cover - abstract
        raise NotImplementedError

    def set(self, table: str, value: dt.datetime) -> None:  # pragma: no cover
        raise NotImplementedError

    def cut(self, df: DataFrame, ts_col: str, table: str) -> DataFrame:
        """The incremental window: rows strictly past the stored watermark
        (reference filter, 2_Bronze_to_Silver.py:55-56). The predicate is a
        plain Column comparison → pushed into the parquet scan."""
        return df.where(F.col(ts_col) > F.lit(self.get(table)))

    def advance_from(self, df: DataFrame, ts_col: str, table: str) -> dt.datetime | None:
        """Compute max(ts) of the processed batch (A5) and persist it —
        the reference's new-watermark step (2_Bronze_to_Silver.py:67,
        143-147). Returns the new watermark, or None for an empty batch
        (watermark untouched, same as the reference's early-exit)."""
        row = df.agg(F.max(ts_col).alias("wm")).first()
        if row is None or row["wm"] is None:
            return None
        self.set(table, row["wm"])
        return row["wm"]


class WatermarkStore(_WatermarkOps):
    """One parquet dir per table under ``root`` holding a single row."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)

    def _path(self, table: str) -> Path:
        return self.root / f"{table}.wm"

    def get(self, table: str) -> dt.datetime:
        p = str(self._path(table))
        meta = read_commit_meta(p)
        if meta and "watermark" in meta:
            return dt.datetime.fromisoformat(meta["watermark"])
        # Legacy tables: committed without the value in the metadata.
        if not table_exists(p):
            return DEFAULT_WATERMARK
        row = read_table(self.spark, p).first()
        return row["watermark"] if row else DEFAULT_WATERMARK

    def inputs(self, table: str) -> str | None:
        """The ``inputs`` the table's watermark was last ``set`` with."""
        meta = read_commit_meta(str(self._path(table)))
        return meta.get("inputs") if meta else None

    def set(self, table: str, value: dt.datetime, inputs: str | None = None) -> None:
        """Atomic replace through the engine's table-commit protocol: a
        crash leaves the old watermark or the new one, never none. The
        row is written from the driver (``LocalRows``): no Spark job.
        ``inputs`` (a caller's digest of what the window was cut from)
        commits with the value; ``inputs`` reads it back.

        The pointer flip is local-POSIX-atomic; on object stores keep
        watermark state in a transactional store (``JdbcWatermarkStore``;
        the reference uses a SQL table, adf/pipeline.json:186-272 — the
        right call at cluster scale)."""
        overwrite_table(
            LocalRows([(table, value)], _SCHEMA),
            str(self._path(table)),
            commit_meta={"watermark": value.isoformat(), "inputs": inputs},
        )


class JdbcWatermarkStore(_WatermarkOps):
    """Watermark control table in the SOURCE database over JDBC — the
    reference's ``dbo.adf_watermark`` round trip: ADF Lookup reads the
    old value (adf/pipeline.json:201) and a Script activity commits the
    new one back (adf/pipeline.json:260-271). A user replacing ADF
    one-to-one keeps the watermark next to the data it fences.

    Append-only instead of UPDATE-in-place: every ``set`` appends one
    ``(table_name, watermark, committed_at)`` row via ``df.write.jdbc``
    (Spark's native JDBC sink — creates the control table on first
    append) and ``get`` reads ``MAX(watermark)`` for the table through
    a pushdown query, so the database aggregates its own index and
    Spark sees one row. MAX over appends is idempotent under replays
    and keeps the full commit history auditable — strictly stronger
    than the reference's single-row UPDATE, with the same contract:
    advance only after the copy succeeds (dependsOn: Succeeded,
    adf/pipeline.json:240-246).

    The control-table NAME is config (identifier-checked); watermarked
    table names are VALUES and are quote-escaped into the lookup
    predicate."""

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        control_table: str = "adf_watermark",
        driver: str | None = None,
    ):
        from ..sources.extract import _check_ident

        self.spark = spark
        self.url = url
        self.control_table = _check_ident(control_table, "control table")
        self.driver = driver

    def set(self, table: str, value: dt.datetime) -> None:
        df = local_df(self.spark, [(table, value)], _SCHEMA).withColumn(
            "committed_at", F.current_timestamp()
        )
        writer = (
            df.coalesce(1)
            .write.mode("append")
            .format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.control_table)
        )
        if self.driver:
            writer = writer.option("driver", self.driver)
        writer.save()

    def get(self, table: str) -> dt.datetime:
        esc = table.replace("'", "''")
        # Spark's JDBC writer CREATEs the control table with quoted
        # (case-exact) column identifiers — quote them here too, or
        # Derby/Postgres upcase the bare names and fail to resolve.
        # CAST the name column for the comparison: some dialects map
        # StringType to CLOB/TEXT (Derby: CLOB), which won't compare to
        # a CHAR literal directly.
        query = (
            f'SELECT MAX("watermark") AS wm FROM {self.control_table} '
            f"WHERE CAST(\"table_name\" AS VARCHAR(256)) = '{esc}'"
        )
        rd = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("query", query)
        )
        if self.driver:
            rd = rd.option("driver", self.driver)
        try:
            row = rd.load().first()
        except Exception as e:  # noqa: BLE001 — first-run: table absent
            if "42X05" in str(e) or "does not exist" in str(e).lower():
                # Derby SQLState 42X05 / common "relation does not exist"
                # texts: no control table yet → the reference's
                # coalesce-to-1900 full-history default (T3).
                return DEFAULT_WATERMARK
            raise
        # positional access: dialects disagree on unquoted-alias case
        # (Derby upcases "wm" to WM)
        return row[0] if row and row[0] is not None else DEFAULT_WATERMARK
