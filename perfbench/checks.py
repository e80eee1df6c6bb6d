"""Output checks, run outside every timed region.

``QueryChecker`` compares a query's rows with its DuckDB oracle over
the same parquet files: column names, row count, and the sorted rows
with floats equal to a relative 1e-9 (the engines sum in different
orders). ``check_cdc_state`` compares the silver tables and gold marts
the pipeline left behind with the state ``datagen.CdcScenario``
computed in plain Python.
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb

import datagen

REL_EPS = 1e-9
_QUERY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings")


def _cell(v):
    if isinstance(v, bool):
        return int(v)
    if v is None or isinstance(v, (int, float)):
        return v
    return str(v)


def _row_key(row) -> tuple:
    # None sorts first and floats compare as numbers, so rows that are
    # equal within REL_EPS still line up after sorting.
    return tuple((v is not None, v if isinstance(v, (int, float)) else str(v)) for v in row)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=REL_EPS, abs_tol=1e-12)
    return a == b


def same_rows(got: list[tuple], want: list[tuple]) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    got = sorted((tuple(_cell(v) for v in r) for r in got), key=_row_key)
    want = sorted((tuple(_cell(v) for v in r) for r in want), key=_row_key)
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_close(x, y) for x, y in zip(g, w)):
            return f"sorted row {i}: got {g}, expected {w}"
    return None


class QueryChecker:
    """A DuckDB connection with one view per generated table."""

    def __init__(self, data_dir: Path):
        self.con = duckdb.connect()
        for t in _QUERY_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir / t}.parquet'")

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.con.close()

    def compare(self, name: str, df, oracle_sql: str) -> str | None:
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        res = self.con.execute(oracle_sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)}, oracle {sorted(ocols)}"
        order = [ocols.index(c) for c in cols]
        return same_rows(rows, [tuple(r[i] for i in order) for r in orows])


def check_cdc_state(spark, catalog, scenario: datagen.CdcScenario) -> str | None:
    """Silver: one current version per key with the expected values, and
    the expected number of versions per key. Gold: both marts."""
    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.operators.writer import read_table

    for table, (key, names) in datagen.CDC_TABLES.items():
        hist = read_table(spark, catalog.path("silver", table))
        versions = {r[0]: r[1] for r in hist.groupBy(key).count().collect()}
        if versions != scenario.versions[table]:
            bad = sorted(k for k in scenario.versions[table]
                         if versions.get(k) != scenario.versions[table][k])[:5]
            return f"silver {table}: version counts differ, e.g. keys {bad}"
        cols = [F.col(c).cast("string") if c == "o_orderdate" else F.col(c) for c in names]
        got = [tuple(r) for r in hist.where(F.col("is_current")).select(*cols).collect()]
        want = [tuple(str(v) if isinstance(v, type(datagen.CDC_T0)) else v for v in row)
                for row in scenario.current[table].values()]
        problem = same_rows(got, want)
        if problem:
            return f"silver {table} current rows: {problem}"
    for mart, want in scenario.expected_gold().items():
        df = read_table(spark, catalog.path("gold", mart))
        got = [tuple(r) for r in df.collect()]
        problem = same_rows(got, [k + v for k, v in want.items()])
        if problem:
            return f"gold {mart}: {problem}"
    return None
