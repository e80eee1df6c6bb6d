"""Parquet sinks (SURVEY.md S5-S8): one whole-table commit protocol
plus the schema-evolving append.

The protocol is ``write_snapshot`` (``overwrite_table`` is a snapshot
write that keeps no history): write an immutable ``v=N`` directory,
flip the ``_current_version.json`` pointer with ``os.replace``, then
prune. The pointer carries the version, the commit metadata and the
table's Spark schema, so one rename commits all three. A crash at any
step leaves the old version or the new one, never a torn table —
closing the reference's two-commit window (SURVEY.md §3). Readers
resolve the pointer through ``_table_dir``, falling back to the legacy
flat layout (files at the path itself), which converts on its next
overwrite. Read engine tables through ``read_table``: a raw
``spark.read.parquet(path)`` sees ``v=`` as a partition column.
Single-writer contract: two concurrent writers can both stage v=N+1
and the second flip wins; the orchestrator, like the reference's ADF
trigger, runs one writer per table. Its concurrent stages write
disjoint paths (each table's bronze, silver and watermark tables, each
mart's gold table), and it appends the run log once, after every stage
has returned. ``os.replace`` is atomic on local POSIX only: HDFS needs
the Hadoop FileSystem rename, object stores a log-based table format.

The data step has two sources. A DataFrame is written by a Spark job.
Control-plane rows held on the driver (``functions.LocalRows``: a
watermark, a run's log rows) are written as one parquet file by
``pyarrow``, typed by Spark's ``to_arrow_schema``, so committing them
fires no job; an append renames the file into place from a hidden
name. ``column_max`` reads a column's maximum from the committed files'
parquet footers on the driver (the run log's last run id).

Schema is served from the commit, the way a metastore serves it:
``read_table`` hands the pointer's schema to the parquet reader, which
then infers nothing and fires no Spark job. Footer inference
(``mergeSchema`` on read, one job per read) is the fallback for tables
whose pointer predates the schema field and for the legacy flat layout.

The non-atomic family: ``write_partitioned`` and ``compact_partitioned``
replace Hive partitions in place by dynamic partition overwrite, and
``append_evolve`` adds files. A crash there can leave some partitions
advanced; the watermark replay re-runs the batch.

Schema evolution: the reference appends Delta with ``mergeSchema=true``
(1_Landing_to_Bronze.py:59-62). ``append_evolve`` owns an evolving
table's schema instead: it unions the batch by name against the
committed schema, null-fills table columns the batch lacks, refuses a
column whose type changed, and re-commits the pointer's schema as the
existing columns followed by new ones in arrival order. Old files
backfill the new columns with nulls at read time.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions import LocalRows

_VERSION_PTR = "_current_version.json"
#: Commit-metadata side file of the legacy flat layout, read for tables
#: written before the pointer existed.
_LEGACY_META = "_commit.json"


def _pointer(path: str | Path) -> dict | None:
    f = Path(path) / _VERSION_PTR
    return json.loads(f.read_text()) if f.exists() else None


def _table_dir(path: str | Path) -> Path | None:
    """The directory holding the committed data of the table at
    ``path`` (``path/v=N`` with a pointer, else ``path`` itself if it
    holds a ``_SUCCESS`` marker or parquet files outside ``v=*``
    directories — pointer-less ``v=*`` directories are uncommitted
    stages), or None when no table is committed there. The flat layout
    is what ``write_partitioned`` (and ``compact_partitioned`` through
    it) writes, and what tables written before the pointer existed
    keep until their next overwrite.

    Refuses a Delta table written by another tool: reading it as plain
    parquet resurrects tombstoned files, and rewriting it destroys its
    log. Every read and write goes through here."""
    p = Path(path)
    if (p / "_delta_log").exists():
        raise ValueError(
            f"{path} is a Delta table (_delta_log present): the engine reads "
            "and writes plain-parquet tables only — use Delta's own tools"
        )
    ptr = _pointer(p)
    if ptr is not None:
        return p / f"v={ptr['version']}"
    if not p.exists():
        return None
    for child in p.iterdir():
        if child.name.startswith("v="):
            continue
        if child.name == "_SUCCESS" or child.name.endswith(".parquet"):
            return p
        if child.is_dir() and any(child.rglob("*.parquet")):
            return p
    return None


def overwrite_table(
    df: DataFrame | LocalRows,
    path: str,
    commit_meta: dict | Callable[[], dict] | None = None,
) -> None:
    """Full refresh (S7): a ``write_snapshot`` commit with ``retain=1``
    — once it returns the path holds only the new version. ``df`` may
    read the table it replaces.

    ``commit_meta`` (optional) is a JSON-able dict stored in the pointer,
    so the new version and its metadata commit in the SAME rename
    (``read_commit_meta`` reads it back): the seam replay guards need,
    since a "batch N is folded in" marker kept anywhere else has a crash
    window between data and marker (the round-3 streaming_mart bug). It
    may be a CALLABLE returning the dict, invoked after the data write
    and before the flip, to stamp metrics the write itself produced
    (``observe()`` counts) without a second pass over the data."""
    write_snapshot(df, path, retain=1, commit_meta=commit_meta)


def read_commit_meta(path: str) -> dict | None:
    """The ``commit_meta`` of the table's committed version, or None if
    it has none (or there is no table)."""
    d = _table_dir(path)
    if d is None:
        return None
    if d == Path(path):
        f = d / _LEGACY_META
        return json.loads(f.read_text()) if f.exists() else None
    return _pointer(path)["meta"]


def _pinned_schema(path: str | Path) -> StructType | None:
    ptr = _pointer(path)
    return None if ptr is None or "schema" not in ptr else StructType.fromJson(ptr["schema"])


def _flip(p: Path, ptr: dict) -> None:
    """Commit ``ptr`` as the table's pointer: write a temp file, then
    ``os.replace`` it over the old pointer."""
    tmp = p / f".ptr_tmp_{ptr['version']}"
    tmp.write_text(json.dumps(ptr))
    os.replace(tmp, p / _VERSION_PTR)


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The committed schema of the table at ``path``: the pointer's
    (no Spark job), else inferred from the file footers."""
    schema = _pinned_schema(path)
    return schema if schema is not None else read_table(spark, path).schema


def append_evolve(spark: SparkSession, df: DataFrame | LocalRows, path: str) -> None:
    """Append with schema evolution (S5): union-by-name against the
    table's committed schema. The first write to a fresh path is a
    ``write_snapshot`` commit. New batch columns join the schema after
    the existing ones, in arrival order (old files read them as null);
    table columns missing from the batch are written as typed nulls. A
    batch column whose type differs from the table's raises ValueError
    before anything is written.

    The files land in the committed version's directory. On a pointer
    table the evolved schema is committed before the files are written,
    so no appended row is ever visible without its columns. A
    ``LocalRows`` batch lands as one file written on the driver (no
    job); its missing table columns are left out of the file, which
    readers fill with nulls as they do for old files."""
    d = _table_dir(path)
    if d is None:
        write_snapshot(df, path, retain=1)
        return
    existing = table_schema(spark, path)
    have = {f.name: f.dataType for f in existing.fields}
    # simpleString ignores nullability, which parquet reads drop anyway.
    clash = [
        f"{f.name} ({have[f.name].simpleString()} in the table, "
        f"{f.dataType.simpleString()} in the batch)"
        for f in df.schema.fields
        if f.name in have and f.dataType.simpleString() != have[f.name].simpleString()
    ]
    if clash:
        raise ValueError(f"append to {path} changes column types: {', '.join(clash)}")
    aligned = df
    if isinstance(df, DataFrame):
        for field in existing.fields:
            if field.name not in df.columns:
                aligned = aligned.withColumn(field.name, F.lit(None).cast(field.dataType))
    ptr = _pointer(path)
    if ptr is not None:
        evolved = StructType(existing.fields + [f for f in df.schema.fields if f.name not in have])
        if ptr.get("schema") != evolved.jsonValue():
            _flip(Path(path), {**ptr, "schema": evolved.jsonValue()})
    _write_data(aligned, d, "append")


def _write_data(data: DataFrame | LocalRows, d: Path, mode: str) -> None:
    """The data step of every commit: a Spark write job for a DataFrame,
    or for ``LocalRows`` one parquet file written on the driver by
    ``pyarrow`` (no job). ``mode`` is ``"overwrite"`` for a fresh
    ``v=N`` stage, which nothing reads before its flip, and
    ``"append"`` for a committed directory: there the local file is
    written under a hidden name (readers skip ``.``-prefixed files) and
    renamed into place, so a crash never exposes a partial file."""
    if isinstance(data, DataFrame):
        data.write.mode(mode).parquet(str(d))
        return
    import pyarrow.parquet as pq

    if mode == "overwrite" and d.exists():
        shutil.rmtree(d)  # a crashed writer's stage of the same version
    d.mkdir(parents=True, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    if mode == "overwrite":
        pq.write_table(data.to_arrow(), d / name)
        return
    pq.write_table(data.to_arrow(), d / f".{name}")
    os.rename(d / f".{name}", d / name)


def column_max(path: str, column: str) -> int | None:
    """The largest value of the int64 ``column`` over the committed files
    of the table at ``path`` (the files ``read_table`` reads), or None
    when there is no table or no non-null value. Read on the driver from
    the parquet footers' min/max statistics, which pyarrow and Spark
    both write for int64 columns: no Spark job."""
    import pyarrow.parquet as pq

    d = _table_dir(path)
    if d is None:
        return None
    best = None
    for f in sorted(d.rglob("*")):
        parts = f.relative_to(d).parts
        if (
            not f.is_file()
            or any(part.startswith((".", "_")) for part in parts)
            or (d == Path(path) and parts[0].startswith("v="))
        ):
            continue
        md = pq.read_metadata(f)
        j = md.schema.names.index(column)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if not rg.num_rows:  # an empty file's row group has no statistics
                continue
            stats = rg.column(j).statistics
            if stats.has_min_max and (best is None or stats.max > best):  # all null: none
                best = stats.max
    return best


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read an engine-managed table's committed version: with the
    pointer's schema, else with schema merge across the files."""
    d = _table_dir(path)
    if d is None:
        raise FileNotFoundError(f"no committed table at {path}")
    schema = _pinned_schema(path)
    if schema is not None:
        return spark.read.schema(schema).parquet(str(d))
    reader = spark.read.option("mergeSchema", "true")
    stages = [] if d != Path(path) else [c for c in d.iterdir() if c.name.startswith("v=")]
    if not stages:
        return reader.parquet(str(d))
    # A legacy flat table beside the v=1 stage of an overwrite that
    # crashed before its pointer flip: Spark would read only the ``v=``
    # directory, so name the legacy files and partitions explicitly.
    data = [
        str(c)
        for c in d.iterdir()
        if c not in stages and (not c.name.startswith((".", "_")) or "=" in c.name)
    ]
    return reader.option("basePath", str(d)).parquet(*data)


def write_csv(
    df: DataFrame,
    path: str,
    quote_all: bool = True,
    header: bool = True,
    sep: str = ",",
    mode: str = "overwrite",
) -> None:
    """CSV landing sink (S12) with ADF DelimitedTextSink parity: the
    reference's Copy activity writes every text field quoted
    (adf/pipeline.json:135-145, ``quoteAllText: true``), so values with
    embedded delimiters/newlines round-trip safely. ``quote_all=True``
    mirrors that default; Spark's own default quotes only when needed,
    which is also available (``quote_all=False``) since either form
    re-parses identically."""
    (
        df.write.option("header", str(header).lower())
        .option("quoteAll", str(quote_all).lower())
        .option("sep", sep)
        # Spark's CSV WRITER trims leading/trailing whitespace by default
        # (ignore*WhiteSpace=true) — silent data mutation in a landing
        # file. The quoted form preserves spacing exactly, as ADF does.
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .mode(mode)
        .csv(path)
    )


def write_partitioned(df: DataFrame, path: str, keys: list[str]) -> None:
    """Hive-partitioned parquet sink (``key=value`` directory layout):
    the physical layout that makes partition PRUNING work — a query
    filtering on a partition key lists and reads ONLY the matching
    directories (PartitionFilters in the scan, asserted in
    tests/test_plans_explain.py), which at 100 TB is the difference
    between scanning a day and scanning a decade.

    The write REPLACES only the partitions present in ``df`` (dynamic
    partition overwrite, set per write through the DataFrameWriter
    option; the session keeps Spark's static default) —
    the idempotent daily-reload idiom: re-running a day's load rewrites
    that day's directory and leaves history untouched. Choose partition
    keys with bounded cardinality (date, region, status — not user_id):
    every distinct value is a directory, and millions of tiny
    directories destroy listing performance.
    """
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(*keys)
        .mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Metastore-backed (managed) tables — S14 + S8.
# The reference creates per-layer databases and writes its side-output as
# a managed table queryable BY NAME:
#   spark.sql("CREATE DATABASE IF NOT EXISTS silver")   (2_Bronze_to_Silver.py:11)
#   df.write.saveAsTable("default.new_customers_for_emailing", mode="overwrite")
#                                                       (2_Bronze_to_Silver.py:114-116)
# Plain Spark's in-memory/Derby catalog supports both — no Databricks
# dependency. Path tables (LayerCatalog) and managed tables coexist; the
# managed form is what a SQL user hits first.
# ---------------------------------------------------------------------------


def create_database(spark: SparkSession, name: str) -> None:
    """``CREATE DATABASE IF NOT EXISTS`` (S14) — one namespace per
    medallion layer, as the reference does for silver/gold."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def save_managed_table(df: DataFrame, qualified_name: str, mode: str = "overwrite") -> None:
    """Managed-table sink (S8): ``db.table`` lands in the session
    metastore and is queryable via ``spark.table(name)`` / SQL. The
    database part must already exist (``create_database``)."""
    df.write.format("parquet").mode(mode).saveAsTable(qualified_name)


# ---------------------------------------------------------------------------
# versioned snapshots (parquet-native time travel)
# ---------------------------------------------------------------------------

def write_snapshot(
    df: DataFrame | LocalRows,
    path: str,
    retain: int = 5,
    commit_meta: dict | Callable[[], dict] | None = None,
) -> int:
    """Versioned table write with TIME TRAVEL — the parquet-native half
    of a Delta/Iceberg log and the engine's one whole-table commit:
    write an IMMUTABLE ``v=N`` directory (no reader can resolve it yet),
    evaluate ``commit_meta`` (see ``overwrite_table``), flip the pointer
    that carries it and ``df``'s schema via write-then-``os.replace``
    (``df.schema`` is analysis only: no job), then prune versions at
    or below N − ``retain``, legacy flat files and pointer temp files.
    Readers of version N−1 keep a consistent view while N lands, because
    snapshot files are never mutated; old versions stay readable
    (``read_snapshot(..., version=k)``) until pruned. Returns the
    committed version number.

    ``df`` is the data step's source: a DataFrame, written by a Spark
    job, or ``LocalRows`` held on the driver, written as one parquet
    file by ``pyarrow`` with no job (``_write_data``) — the commit of
    the control-plane tables (watermarks, the run log). Staging, flip
    and prune are the same for both."""
    p = Path(path)
    _table_dir(p)  # refuses a Delta table before anything is written
    cur = snapshot_current_version(path)
    new = 1 if cur is None else cur + 1
    _write_data(df, p / f"v={new}", "overwrite")
    meta = commit_meta() if callable(commit_meta) else commit_meta
    _flip(p, {"version": new, "meta": meta, "schema": df.schema.jsonValue()})
    # max(1, retain): the just-committed version must never prune
    # itself (retain<=0 would delete v=new and leave the pointer
    # dangling) — same guard vacuum_snapshots applies. Stages above
    # the pointer are left to vacuum_snapshots.
    keep = {_VERSION_PTR, *(f"v={v}" for v in snapshot_versions(path) if v > new - max(1, retain))}
    for child in p.iterdir():
        if child.name in keep:
            continue
        if child.is_dir():
            shutil.rmtree(child, ignore_errors=True)
        else:
            child.unlink(missing_ok=True)
    return new


def snapshot_current_version(path: str) -> int | None:
    """Version the pointer currently commits to, or None (no table)."""
    ptr = _pointer(path)
    return None if ptr is None else int(ptr["version"])


def snapshot_versions(path: str) -> list[int]:
    """All snapshot versions present on disk (committed pointer target,
    retained history, and any staged-but-unreferenced directory — the
    crash leftovers a vacuum would prune), ascending."""
    p = Path(path)
    if not p.exists():
        return []
    return sorted(
        int(d.name.split("=", 1)[1])
        for d in p.iterdir()
        if d.is_dir() and d.name.startswith("v=")
    )


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot table — the committed version by default, or a
    pinned historical ``version`` (time travel). Raises KeyError for a
    version that was pruned or never committed... a staged directory
    abandoned by a crash has no pointer and is invisible here unless
    pinned explicitly (mirroring Delta's rule that uncommitted files
    are not part of any version)."""
    cur = snapshot_current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot table at {path}")
    v = cur if version is None else version
    d = Path(path) / f"v={v}"
    if version is not None and not d.exists():
        raise KeyError(f"version {version} not present under {path}")
    return spark.read.parquet(str(d))


def vacuum_snapshots(path: str, retain: int = 5) -> list[int]:
    """Prune a snapshot table: drop versions older than the last
    ``retain`` committed ones AND any staged-but-never-committed
    leftover directories ABOVE the pointer (crash debris from a writer
    that died between staging and the pointer flip). The committed
    version itself is never dropped regardless of ``retain``. Returns
    the pruned version numbers. Safe to run any time — it only deletes
    directories no reader can resolve through the pointer (modulo
    time-travel pins older than the retention window, same caveat as
    Delta's VACUUM)."""
    cur = snapshot_current_version(path)
    if cur is None:
        return []
    pruned = []
    for v in snapshot_versions(path):
        if v == cur:
            continue
        if v <= cur - max(1, retain) or v > cur:
            shutil.rmtree(Path(path) / f"v={v}", ignore_errors=True)
            pruned.append(v)
    return pruned
