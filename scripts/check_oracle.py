"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at the given sf dir and compares against
its ``oracle_sql()`` DuckDB result: row count, column names, and an
order-insensitive value hash (rows sorted, columns sorted by name).

Floats are compared at FULL precision (``repr`` — shortest round-trip
form). Round 3 proved the old ``%.6g`` normalization masks cent-level
divergence on 7-digit money values (`top_parts_per_supplier` shipped a
driver hash-fail that this replica printed PASS for). A strict mismatch
is re-checked under a 1e-9 relative epsilon purely to CLASSIFY it:

- ``FAIL(eps)``  — values differ beyond epsilon: a real bug.
- ``FRAGILE``    — values agree within epsilon but not bit-exactly:
  the query emits floats whose last-ulp behavior differs between
  engines, and the driver's hash may or may not forgive it. Treat as a
  fix-me (convert the column to DECIMAL / scaled BIGINT), not a pass.
- ``FRAGILE-TYPE`` — the stringified VALUES match but the column
  TYPES don't (e.g. DuckDB leaves ``sum(bigint)`` as HUGEINT /
  decimal128(38,0) while Spark emits int64). Round 4 proved the
  driver's hash layer distinguishes these even though
  ``str(Decimal('123')) == str(123)`` — both remaining r04 hash-fails
  (`vocab_coverage`, `event_props_json`) were exactly this. The
  oracle result is fetched via Arrow so the true DuckDB schema is
  visible; a coarse type-category comparison against Spark's dtypes
  flags the divergence BEFORE the driver does.

Usage:  python scripts/check_oracle.py [sf_dir] [name...] [--vanilla]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pyarrow as pa

from __spark_entry__ import oracle_sql, queries
from azure_sales_etl_pipeline_spark.catalog import TESTDATA_TABLES, table_path
from azure_sales_etl_pipeline_spark.operators import rounds
from azure_sales_etl_pipeline_spark.session import get_spark

_REL_EPS = 1e-9


def _coarse_arrow(t: pa.DataType) -> str:
    """Coarse type category of an Arrow field (DuckDB result schema)."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "list"
    if pa.types.is_struct(t):
        return "struct"
    if pa.types.is_map(t):
        return "map"
    if pa.types.is_null(t):
        return "null"
    return "other"


def _coarse_spark(dtype: str) -> str:
    """Coarse type category of a Spark simpleString dtype."""
    d = dtype.lower()
    if d in ("tinyint", "smallint", "int", "bigint", "byte", "short", "integer", "long"):
        return "int"
    if d in ("float", "double"):
        return "float"
    if d.startswith("decimal"):
        return "decimal"
    if d == "boolean":
        return "bool"
    if d in ("string", "varchar", "char") or d.startswith(("varchar", "char")):
        return "str"
    if d.startswith("timestamp"):
        return "timestamp"
    if d == "date":
        return "date"
    if d == "binary":
        return "binary"
    if d.startswith("array"):
        return "list"
    if d.startswith("struct"):
        return "struct"
    if d.startswith("map"):
        return "map"
    if d == "void":
        return "null"
    return "other"


def type_mismatches(spark_dtypes, arrow_schema):
    """Columns whose coarse type category differs between the Spark
    result and the DuckDB (Arrow) oracle result. A ``null`` category on
    either side is a wildcard (all-NULL literal columns carry no type
    information)."""
    stypes = {n: _coarse_spark(d) for n, d in spark_dtypes}
    out = []
    for field in arrow_schema:
        o = _coarse_arrow(field.type)
        s = stypes.get(field.name)
        if s is None or "null" in (s, o):
            continue
        if s != o:
            out.append(f"{field.name}: spark={s} oracle={o}")
    return out


def norm_cell(v):
    if v is None:
        return "\0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr() is the shortest string that round-trips the exact
        # double — full precision, unlike %.6g which hid cent errors.
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return out


def _cells_close(a: str, b: str) -> bool:
    """True when two normalized cells agree within _REL_EPS (used only
    to classify a strict mismatch, never to pass one)."""
    if a == b:
        return True
    try:
        x, y = float(a), float(b)
    except ValueError:
        return False
    if math.isnan(x) or math.isnan(y):
        return False
    return math.isclose(x, y, rel_tol=_REL_EPS, abs_tol=1e-12)


def _rows_close(a, b) -> bool:
    return len(a) == len(b) and all(
        _cells_close(x, y) for ra, rb in zip(a, b) for x, y in zip(ra, rb)
    )


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(
        description=(
            "Local replica of the driver's correctness gate: run every "
            "queries() entry and value-compare against its oracle_sql() "
            "DuckDB result. With no names, sweeps the FULL registry "
            "(~9 min at sf0.001)."
        )
    )
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001",
                    help="testdata scale-factor dir (default sf0.001)")
    ap.add_argument("names", nargs="*", help="only check these queries")
    # --vanilla replicates the DRIVER'S environment: a bare SparkSession
    # with none of the engine session defaults. Round 2 shipped a bug
    # invisible to every in-repo check precisely because only the driver
    # used a vanilla session (events nanos crash) — run this mode before
    # relying on a green sweep.
    ap.add_argument("--vanilla", action="store_true",
                    help="bare SparkSession (the driver's environment)")
    # parse_intermixed_args: plain parse_args rejects positional names
    # that FOLLOW a flag (`sf_dir --vanilla name1 name2` → "unrecognized
    # arguments") because nargs='*' positionals don't re-open after an
    # optional; intermixed parsing handles both orders.
    ns = ap.parse_intermixed_args()
    vanilla = ns.vanilla
    sf_dir = ns.sf_dir
    only = set(ns.names)
    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")

    qs, os_ = queries(), oracle_sql()
    failures = fragiles = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            # One scope per query, as the bench runs it: a query that
            # reads another query's released cut fails here.
            with rounds.scope():
                sdf = fn(spark, sf_dir)
                srows = sdf.collect()
                scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in os_:
            print(f"OK?  {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        try:
            # Arrow keeps the true DuckDB column types visible (fetchall
            # hides HUGEINT behind Decimal objects that stringify like
            # ints — the exact blind spot that shipped two hash-fails).
            otbl = con.execute(os_[name]).arrow()
            ocols = otbl.column_names
            odicts = otbl.to_pylist()
            orows = [tuple(d[c] for c in ocols) for d in odicts]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {type(e).__name__}: {e}")
            failures += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: cols spark={sorted(scols)} oracle={sorted(ocols)}")
            failures += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            failures += 1
            continue
        bad_types = type_mismatches(sdf.dtypes, otbl.schema)
        a, b = canon(srows, scols), canon(orows, ocols)
        if a != b:
            diff = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            if _rows_close(a, b):
                fragiles += 1
                print(
                    f"FRAGILE {name}: floats agree only within eps "
                    f"(driver hash at risk) at sorted row {diff}:"
                )
            else:
                failures += 1
                print(f"FAIL(eps) {name}: value mismatch at sorted row {diff}:")
            print(f"  spark : {a[diff]}")
            print(f"  oracle: {b[diff]}")
            continue
        if bad_types:
            fragiles += 1
            print(f"FRAGILE-TYPE {name}: values match but column types differ "
                  f"(driver hash at risk): {'; '.join(bad_types)}")
            continue
        print(f"PASS {name} ({len(srows)} rows)")
    spark.stop()
    if fragiles:
        print(f"-- {fragiles} FRAGILE (eps-only float agreement; convert to exact types)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
