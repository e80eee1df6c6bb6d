"""Orchestrator tests: stage chaining, per-table isolation, callback."""

from __future__ import annotations

import datetime as dt

from azure_sales_etl_pipeline_spark.pipeline import MedallionPipeline, TableConfig


def write_csv(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text)


def test_end_to_end_two_runs(spark, tmp_path):
    """Landing→Bronze→Silver over two incremental runs: run 2 ingests a
    changed row, SCD2 expires the old version, watermark prevents
    reprocessing run 1's rows, the new-customer callback fires."""
    landing = tmp_path / "landing"
    write_csv(landing / "customers" / "b.csv", "id,name,segment\n1,Alice,RETAIL\n2,Bob,CORP\n")

    clock = {"now": dt.datetime(2024, 1, 1)}
    captured = []
    pipe = MedallionPipeline(
        spark,
        str(tmp_path / "lake"),
        [TableConfig("customers", "id")],
        clock=lambda: clock["now"],
        on_insert={"customers": lambda df: captured.append(sorted(r["id"] for r in df.collect()))},
    )
    r1 = pipe.run(str(landing))
    assert all(s.ok for s in r1)
    assert captured == [[1, 2]]

    # run 2: one update, one insert
    clock["now"] = dt.datetime(2024, 2, 1)
    write_csv(landing / "customers" / "b.csv", "id,name,segment\n1,Alice,WHOLESALE\n3,Cara,NEW\n")
    r2 = pipe.run(str(landing))
    by_table = {s.table: s for s in r2}
    assert by_table["customers"].stats == {"insert": 1, "update": 1, "no_change": 0}
    assert captured == [[1, 2], [3]]

    silver = pipe.spark.read.parquet(str(tmp_path / "lake" / "silver" / "customers"))
    cur = {r["id"]: r["segment"] for r in silver.where("is_current").collect()}
    assert cur == {1: "WHOLESALE", 2: "CORP", 3: "NEW"}

    # run 3 with no new landing data: watermark yields an empty batch
    clock["now"] = dt.datetime(2024, 3, 1)
    r3 = pipe.run(str(landing))
    by_table3 = {s.table: s for s in r3}
    # ingest re-appends the same file (at-least-once landing is the
    # reference's model too) but SCD2 classifies everything NO CHANGE
    assert by_table3["customers"].stats["insert"] == 0
    assert by_table3["customers"].stats["update"] == 0


def test_per_table_isolation(spark, tmp_path):
    """A misconfigured table (bad business key) fails alone; the rest
    of the loop proceeds (C3)."""
    landing = tmp_path / "landing"
    write_csv(landing / "good" / "b.csv", "id,v\n1,x\n")
    write_csv(landing / "bad" / "b.csv", "id,v\n1,x\n")
    pipe = MedallionPipeline(
        spark,
        str(tmp_path / "lake"),
        [TableConfig("bad", "missing_key"), TableConfig("good", "id")],
        clock=lambda: dt.datetime(2024, 1, 1),
    )
    results = {s.table: s for s in pipe.run(str(landing))}
    assert results["bad"].ok is False and results["bad"].error
    assert results["good"].ok is True
    assert results["good"].stats["insert"] == 1


def test_run_log_persists_outcomes_and_failures(spark, tmp_path):
    """The persisted run log (reference README.MD:230-233 describes but
    never implements a logging table): per-stage rows with counts, a
    failed table logged ok=false WITH its error while the run
    continues, monotonically increasing run_id across runs, and a
    gold-mart stage row."""
    landing = tmp_path / "landing"
    write_csv(landing / "good" / "b.csv", "id,v\n1,x\n2,y\n")
    write_csv(landing / "bad" / "b.csv", "id,v\n1,x\n")

    def mart(sp, catalog):
        from azure_sales_etl_pipeline_spark.operators.writer import read_table

        return read_table(sp, catalog.path("silver", "good")).where("is_current").select("id", "v")

    clock = {"now": dt.datetime(2024, 1, 1)}
    pipe = MedallionPipeline(
        spark,
        str(tmp_path / "lake"),
        [TableConfig("bad", "missing_key"), TableConfig("good", "id")],
        clock=lambda: clock["now"],
        gold_marts={"good_current": mart},
    )
    pipe.run(str(landing))
    clock["now"] = dt.datetime(2024, 2, 1)
    write_csv(landing / "good" / "b.csv", "id,v\n2,CHANGED\n")
    pipe.run(str(landing))

    log = {(r["run_id"], r["stage"]): r for r in pipe.run_log().collect()}
    assert len(log) == 8  # 4 stages x 2 runs
    assert log[(1, "bad")]["ok"] is False and "missing_key" in log[(1, "bad")]["error"]
    assert log[(1, "good")]["ok"] is True and log[(1, "good")]["n_insert"] == 2
    assert log[(1, "__ingest__")]["n_insert"] == 3  # 2 good + 1 bad rows landed
    assert log[(1, "gold:good_current")]["ok"] is True
    assert log[(1, "gold:good_current")]["n_insert"] == 2
    assert log[(2, "good")]["n_update"] == 1 and log[(2, "good")]["n_insert"] == 0
    assert log[(2, "good")]["error"] is None
    ts = {r[0]: log[(r[0], "good")]["run_at"] for r in log}
    assert ts[1] == dt.datetime(2024, 1, 1) and ts[2] == dt.datetime(2024, 2, 1)


def test_retry_policy_recovers_transient_stage_failure(spark, tmp_path):
    """ADF activity-policy parity (retry N / interval): a gold mart
    that fails once then succeeds is retried after the injected sleep;
    a stage that keeps failing exhausts retries and logs ok=false."""
    landing = tmp_path / "landing"
    write_csv(landing / "good" / "b.csv", "id,v\n1,x\n")
    calls = {"n": 0}
    slept = []

    def flaky_mart(sp, catalog):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        from azure_sales_etl_pipeline_spark.operators.writer import read_table

        return read_table(sp, catalog.path("silver", "good")).select("id")

    def dead_mart(sp, catalog):
        raise RuntimeError("permanent")

    pipe = MedallionPipeline(
        spark,
        str(tmp_path / "lake"),
        [TableConfig("good", "id")],
        clock=lambda: dt.datetime(2024, 1, 1),
        gold_marts={"flaky": flaky_mart, "dead": dead_mart},
        retry=2,
        retry_wait=30.0,
        sleep=slept.append,
    )
    results = {s.table: s for s in pipe.run(str(landing))}
    assert results["gold:flaky"].ok is True
    assert results["gold:flaky"].stats["attempts"] == 2
    assert results["gold:dead"].ok is False and "permanent" in results["gold:dead"].error
    # one wait before flaky's 2nd attempt + two for dead's retries
    assert slept == [30.0, 30.0, 30.0]


def test_land_batch_timestamped_naming_round_trip(spark, tmp_path):
    """Landing-file naming convention (reference README.MD:89):
    <Table>_<yyyyMMddHHmmss>.csv, quoteAll text, accumulating batches
    that the ingestor then loads as one table."""
    import datetime as dtm

    from azure_sales_etl_pipeline_spark.sources.ingest import CsvIngestor, land_batch

    landing = tmp_path / "landing"
    df1 = spark.createDataFrame([(1, "a,comma")], "id bigint, v string")
    df2 = spark.createDataFrame([(2, "plain")], "id bigint, v string")
    p1 = land_batch(df1, str(landing), "customers", clock=lambda: dtm.datetime(2024, 1, 1, 8, 30, 0))
    p2 = land_batch(df2, str(landing), "customers", clock=lambda: dtm.datetime(2024, 1, 2, 9, 0, 0))
    assert p1.endswith("customers/customers_20240101083000.csv")
    assert p2.endswith("customers/customers_20240102090000.csv")
    assert '"a,comma"' in open(p1).read() and '"plain"' in open(p2).read()

    ing = CsvIngestor(spark, str(tmp_path / "bronze"), clock=lambda: dtm.datetime(2024, 1, 3))
    assert ing.run(str(landing)) == {"customers": 2}


def test_watermark_is_the_true_batch_max(spark, tmp_path):
    """bronze_to_silver stores the batch max(ts_col) observed during the
    SCD2 upsert's first full pass over the batch. A partial-scan action
    fired first (take/limit) would pin a lower value; pin the invariant
    on the initial load and on an incremental batch, each spread over
    several files so a partial scan misses the max."""
    from azure_sales_etl_pipeline_spark.operators.writer import append_evolve

    cfg = TableConfig("customers", "id")
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"), [cfg],
                             clock=lambda: dt.datetime(2024, 6, 1))
    bronze = str(pipe.catalog.path("bronze", cfg.name))
    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    batches = [
        [(i, f"n{i}", t1 + dt.timedelta(hours=i)) for i in range(40)],
        # 20 updates, 20 inserts, and one row older than the watermark
        [(i, f"m{i}", t2 + dt.timedelta(hours=i)) for i in range(20, 60)]
        + [(99, "late", t1)],
    ]
    for rows in batches:
        append_evolve(spark, spark.createDataFrame(
            rows, f"id long, name string, {cfg.ts_col} timestamp"), bronze)
        prev = pipe.watermarks.get(cfg.name)
        expected = max(ts for _, _, ts in rows if ts > prev)
        pipe.bronze_to_silver(cfg)
        assert pipe.watermarks.get(cfg.name) == expected
