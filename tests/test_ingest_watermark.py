"""Ingestion lifecycle + watermark state tests (VERDICT items 3-4)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from azure_sales_etl_pipeline_spark.operators.watermark import (
    DEFAULT_WATERMARK,
    WatermarkStore,
)
from azure_sales_etl_pipeline_spark.operators.writer import append_evolve, read_table
from azure_sales_etl_pipeline_spark.sources.ingest import CsvIngestor, discover_sources


def write_csv(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text)


def test_infer_then_pin_types(spark, tmp_path):
    """Second load pins first load's types: an 'id' column that looks
    numeric in batch 2 must keep batch 1's inferred type even if batch 2
    alone would infer differently."""
    landing = tmp_path / "landing"
    write_csv(landing / "t" / "b1.csv", "id,amount\n1,1.5\n")
    clock = {"now": dt.datetime(2024, 1, 1)}
    ing = CsvIngestor(spark, str(tmp_path / "bronze"), clock=lambda: clock["now"])
    ing.run(str(landing))
    types1 = dict(read_table(spark, str(tmp_path / "bronze" / "t")).dtypes)
    assert types1["amount"] == "double"

    # batch 2: amount values are integer-looking → would infer int alone
    write_csv(landing / "t" / "b1.csv", "id,amount\n2,3\n")
    ing.run(str(landing))
    bronze = read_table(spark, str(tmp_path / "bronze" / "t"))
    assert dict(bronze.dtypes)["amount"] == "double"
    assert bronze.count() == 2


def test_schema_evolution_null_backfill(spark, tmp_path):
    """A new column in batch 2 lands; batch-1 rows read back null (S5)."""
    landing = tmp_path / "landing"
    write_csv(landing / "t" / "b1.csv", "id,name\n1,Alice\n")
    clock = {"now": dt.datetime(2024, 1, 1)}
    ing = CsvIngestor(spark, str(tmp_path / "bronze"), clock=lambda: clock["now"])
    ing.run(str(landing))
    write_csv(landing / "t" / "b1.csv", "id,name,tier\n2,Bob,GOLD\n")
    clock["now"] = dt.datetime(2024, 1, 2)
    ing.run(str(landing))

    rows = {r["id"]: r for r in read_table(spark, str(tmp_path / "bronze" / "t")).collect()}
    assert rows[1]["tier"] is None
    assert rows[2]["tier"] == "GOLD"
    assert rows[2]["source_file"].endswith("b1.csv")
    assert rows[1]["ingestion_timestamp"] == dt.datetime(2024, 1, 1)


def test_pinned_and_evolving_loads_keep_bronze_rows_and_schema(spark, tmp_path):
    """A pinned load (header columns all known, here reordered and one
    missing) parses with the pinned types instead of inferring and
    casting back; an evolving load (a new column) still infers. Bronze
    rows and column types are the same either way."""
    landing = tmp_path / "landing"
    csv = landing / "t" / "b.csv"
    clock = {"now": dt.datetime(2024, 1, 1)}
    ing = CsvIngestor(spark, str(tmp_path / "bronze"), clock=lambda: clock["now"])
    write_csv(csv, "id,amount,name,day,ts,flag\n1,1.5,Alice,2024-01-01,2024-01-01 10:00:00,true\n")
    assert ing.run(str(landing)) == {"t": 1}
    clock["now"] = dt.datetime(2024, 1, 2)
    write_csv(csv, "amount,id,name,ts,flag\n3,2,Bob,2024-01-02 11:30:00,false\n,3,,,\n")
    assert ing.run(str(landing)) == {"t": 2}
    clock["now"] = dt.datetime(2024, 1, 3)
    write_csv(csv, "id,name,tier,amount\n4,Dan,GOLD,2.25\n")
    assert ing.run(str(landing)) == {"t": 1}

    bronze = read_table(spark, str(tmp_path / "bronze" / "t"))
    assert bronze.dtypes == [
        ("id", "int"), ("amount", "double"), ("name", "string"), ("day", "date"),
        ("ts", "timestamp"), ("flag", "boolean"), ("source_file", "string"),
        ("ingestion_timestamp", "timestamp"), ("tier", "string"),
    ]
    rows = sorted(tuple(r) for r in bronze.drop("source_file").collect())
    assert rows == [
        (1, 1.5, "Alice", dt.date(2024, 1, 1), dt.datetime(2024, 1, 1, 10), True,
         dt.datetime(2024, 1, 1), None),
        (2, 3.0, "Bob", None, dt.datetime(2024, 1, 2, 11, 30), False,
         dt.datetime(2024, 1, 2), None),
        (3, None, None, None, None, None, dt.datetime(2024, 1, 2), None),
        (4, 2.25, "Dan", None, None, None, dt.datetime(2024, 1, 3), "GOLD"),
    ]


def test_pinned_load_keeps_digit_strings(spark, tmp_path):
    """A string column whose batch values all look numeric keeps their
    text: inferring the batch typed "007" as int 7 before the cast back."""
    landing = tmp_path / "landing"
    csv = landing / "t" / "b.csv"
    ing = CsvIngestor(spark, str(tmp_path / "bronze"))
    write_csv(csv, "id,zip\n1,A1\n")
    ing.run(str(landing))
    write_csv(csv, "id,zip\n2,007\n")
    ing.run(str(landing))
    rows = read_table(spark, str(tmp_path / "bronze" / "t")).select("id", "zip").collect()
    assert sorted(map(tuple, rows)) == [(1, "A1"), (2, "007")]


def test_append_evolve_missing_column_null_filled(spark, tmp_path):
    """Batch missing a table column writes typed nulls (union-by-name)."""
    path = str(tmp_path / "t")
    append_evolve(spark, spark.createDataFrame([(1, "a")], "id int, name string"), path)
    append_evolve(spark, spark.createDataFrame([(2,)], "id int"), path)
    rows = {r["id"]: r for r in read_table(spark, path).collect()}
    assert rows[2]["name"] is None


def test_append_evolve_refuses_type_change_before_writing(spark, tmp_path):
    """A batch column whose type differs from the table's is refused
    before any file or pointer changes: the table reads as before."""
    from pathlib import Path

    import pytest

    path = str(tmp_path / "t")
    append_evolve(spark, spark.createDataFrame([(1, "a")], "id bigint, name string"), path)
    on_disk = {f: f.read_bytes() for f in Path(path).rglob("*") if f.is_file()}
    with pytest.raises(ValueError, match=r"name \(string in the table, int in the batch\)"):
        append_evolve(spark, spark.createDataFrame([(2, 7, "x")], "id bigint, name int, new string"),
                      path)
    assert {f: f.read_bytes() for f in Path(path).rglob("*") if f.is_file()} == on_disk
    assert [tuple(r) for r in read_table(spark, path).collect()] == [(1, "a")]


def test_discover_skips_underscore(tmp_path):
    (tmp_path / "_checkpoint").mkdir(parents=True)
    (tmp_path / "real").mkdir()
    assert list(discover_sources(str(tmp_path))) == ["real"]


def test_landing_header_reads_plain_files_and_leaves_compressed_ones_to_spark(tmp_path):
    """The driver probe sees what Spark's CSV reader sees: a BOM and
    blank lines skipped, each file's first line its header. A landing
    holding a compressed file is left to Spark (None)."""
    import gzip

    from azure_sales_etl_pipeline_spark.sources.ingest import landing_header

    t = tmp_path / "t"
    write_csv(t / "a.csv", "\ufeff\n  \n\"id\",v\n\n")
    assert landing_header(str(t)) == (["id", "v"], False)
    write_csv(t / "b.csv", "id,v\n1,x\n")
    assert landing_header(str(t)) == (["id", "v"], True)
    with gzip.open(t / "c.csv.gz", "wt") as f:
        f.write("id,v\n")
    assert landing_header(str(t)) is None
    assert landing_header(str(t / "c.csv.gz")) is None


def test_compressed_landing_loads_through_spark_probes(spark, tmp_path):
    """A gzip landing takes Spark's header read and empty check: the
    first load infers, a later one pins the bronze types, and a
    header-only file ingests nothing."""
    import gzip

    def land(name, text):
        with gzip.open(tmp_path / "landing" / "t" / name, "wt") as f:
            f.write(text)

    (tmp_path / "landing" / "t").mkdir(parents=True)
    land("b0.csv.gz", "id,amount\n1,1.5\n")
    ing = CsvIngestor(spark, str(tmp_path / "bronze"), clock=lambda: dt.datetime(2024, 1, 1))
    landing = str(tmp_path / "landing" / "t")
    assert ing.ingest("t", landing) == 1
    land("b0.csv.gz", "id,amount\n")
    assert ing.ingest("t", landing) == 0
    land("b0.csv.gz", "amount,id\n3,2\n")
    assert ing.ingest("t", landing) == 1
    bronze = read_table(spark, str(tmp_path / "bronze" / "t"))
    assert dict(bronze.dtypes)["amount"] == "double"
    assert sorted((r["id"], r["amount"]) for r in bronze.collect()) == [(1, 1.5), (2, 3.0)]


def test_empty_csv_short_circuits(spark, tmp_path):
    landing = tmp_path / "landing"
    write_csv(landing / "t" / "b1.csv", "id,name\n")
    ing = CsvIngestor(spark, str(tmp_path / "bronze"))
    assert ing.run(str(landing)) == {"t": 0}
    assert not (tmp_path / "bronze" / "t").exists()


def test_watermark_two_batch_cycle(spark, tmp_path):
    """Batch 2 processes only rows past batch 1's max ts (T1-T3)."""
    store = WatermarkStore(spark, str(tmp_path / "state"))
    assert store.get("t") == DEFAULT_WATERMARK

    ev = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1 + i)) for i in range(4)], "id int, ts timestamp"
    )
    batch1 = ev.where(F.col("id") < 2)
    assert store.cut(batch1, "ts", "t").count() == 2
    assert store.advance_from(batch1, "ts", "t") == dt.datetime(2024, 1, 2)

    batch2 = store.cut(ev, "ts", "t")
    assert {r["id"] for r in batch2.collect()} == {2, 3}


def test_watermark_empty_batch_keeps_state(spark, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "state"))
    ev = spark.createDataFrame([(1, dt.datetime(2024, 1, 5))], "id int, ts timestamp")
    store.advance_from(ev, "ts", "t")
    empty = ev.where(F.lit(False))
    assert store.advance_from(empty, "ts", "t") is None
    assert store.get("t") == dt.datetime(2024, 1, 5)


def test_jdbc_watermark_store_live_round_trip_embedded_derby(spark, tmp_path):
    """LIVE control-table watermark round trip against embedded Derby —
    the reference's dbo.adf_watermark read (Lookup) + write-back
    (Script UPDATE, adf/pipeline.json:260-271) closed engine-side:
    df.write.jdbc appends the commit, the pushdown MAX query reads it
    back, missing control table defaults to 1900-01-01, and cut()
    windows a frame off the stored value."""
    import datetime as dt

    from azure_sales_etl_pipeline_spark.operators.watermark import (
        DEFAULT_WATERMARK,
        JdbcWatermarkStore,
    )

    db = str(tmp_path / "derby_wm")
    # create=true so the database exists; the control TABLE does not yet
    spark._jvm.java.sql.DriverManager.getConnection(
        f"jdbc:derby:{db};create=true"
    ).close()
    store = JdbcWatermarkStore(
        spark,
        f"jdbc:derby:{db}",
        control_table="adf_watermark",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )

    # first run: no control table at all → full-history sentinel (T3)
    assert store.get("customers") == DEFAULT_WATERMARK

    # commit two watermarks; MAX-over-appends wins, per-table isolation
    store.set("customers", dt.datetime(2024, 1, 1))
    store.set("customers", dt.datetime(2024, 2, 1))
    store.set("orders", dt.datetime(2023, 6, 1))
    assert store.get("customers") == dt.datetime(2024, 2, 1)
    assert store.get("orders") == dt.datetime(2023, 6, 1)
    assert store.get("never_seen") == DEFAULT_WATERMARK

    # the shared windowing ops ride on the JDBC backend unchanged
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 15)), (2, dt.datetime(2024, 2, 15))],
        "id bigint, updated_at timestamp",
    )
    assert [r["id"] for r in store.cut(df, "updated_at", "customers").collect()] == [2]
    assert store.advance_from(df, "updated_at", "customers") == dt.datetime(2024, 2, 15)
    assert store.get("customers") == dt.datetime(2024, 2, 15)
