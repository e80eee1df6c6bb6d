"""Orchestrator tests: stage chaining, per-table isolation, callback."""

from __future__ import annotations

import datetime as dt

from azure_sales_etl_pipeline_spark.operators.writer import read_table
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

    silver = read_table(pipe.spark, str(tmp_path / "lake" / "silver" / "customers"))
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


def test_crash_before_watermark_advance_replays_as_no_change(spark, tmp_path, monkeypatch):
    """At-least-once replay (ROADMAP C): the process dies inside
    WatermarkStore.set, at the rename that commits the new watermark,
    after bronze_to_silver's upsert has committed silver. The old
    watermark must survive, so the rerun replays exactly that window:
    SCD2 classifies every replayed row NO CHANGE, silver keeps its
    versions, and the watermark lands on the batch max."""
    import os

    import pytest

    from azure_sales_etl_pipeline_spark.operators.writer import append_evolve

    cfg = TableConfig("customers", "id")
    clock = {"now": dt.datetime(2024, 6, 1)}
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"), [cfg], clock=lambda: clock["now"])
    bronze = pipe.catalog.path("bronze", cfg.name)
    silver = pipe.catalog.path("silver", cfg.name)
    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    schema = f"id long, name string, {cfg.ts_col} timestamp"
    first = [(i, f"n{i}", t1 + dt.timedelta(hours=i)) for i in range(10)]
    # 5 updates, 5 inserts
    second = [(i, f"m{i}", t2 + dt.timedelta(hours=i)) for i in range(5, 15)]
    append_evolve(spark, spark.createDataFrame(first, schema), bronze)
    pipe.bronze_to_silver(cfg)

    wm_root = str(tmp_path / "lake" / "state")
    crashed = []

    def dying(rename):
        def wrapper(src, dst, *a, **kw):
            if not crashed and str(dst).startswith(wm_root):
                crashed.append(dst)
                raise RuntimeError("process died while committing the watermark")
            return rename(src, dst, *a, **kw)

        return wrapper

    for name in ("replace", "rename"):
        monkeypatch.setattr(os, name, dying(getattr(os, name)))
    append_evolve(spark, spark.createDataFrame(second, schema), bronze)
    clock["now"] = dt.datetime(2024, 7, 1)
    with pytest.raises(RuntimeError, match="process died"):
        pipe.bronze_to_silver(cfg)
    monkeypatch.undo()

    def versions():
        cols = ("id", "name", "hash", "is_current", "effective_date", "end_date")
        return sorted(tuple(r) for r in read_table(spark, silver).select(*cols).collect())

    committed = versions()
    assert len(committed) == 20  # 10 first loads (5 now expired), 5 new versions, 5 inserts
    assert pipe.watermarks.get(cfg.name) == max(ts for *_, ts in first)

    clock["now"] = dt.datetime(2024, 8, 1)
    assert pipe.bronze_to_silver(cfg) == {"insert": 0, "update": 0, "no_change": 10}
    assert versions() == committed
    assert pipe.watermarks.get(cfg.name) == max(ts for *_, ts in second)


def test_legacy_flat_run_log_stays_readable_and_appendable(spark, tmp_path):
    """A run log written in the flat layout (raw parquet appends, no
    version pointer) keeps reading and takes the next run's rows."""
    from pathlib import Path

    from azure_sales_etl_pipeline_spark.functions import local_df
    from azure_sales_etl_pipeline_spark.pipeline import RUN_LOG_SCHEMA

    pipe = MedallionPipeline(spark, str(tmp_path / "lake"), [],
                             clock=lambda: dt.datetime(2024, 6, 1))
    old = [(7, dt.datetime(2024, 5, 1), "__ingest__", True, 3, None, None, None, None)]
    local_df(spark, old, RUN_LOG_SCHEMA).coalesce(1).write.parquet(pipe.log_path)
    (tmp_path / "landing").mkdir()
    pipe.run(str(tmp_path / "landing"))
    log = sorted((r["run_id"], r["stage"], r["n_insert"]) for r in pipe.run_log().collect())
    assert log == [(7, "__ingest__", 3), (8, "__ingest__", 0)]
    assert not (Path(pipe.log_path) / "_current_version.json").exists()


def _two_table_landing(tmp_path):
    landing = tmp_path / "landing"
    write_csv(landing / "a" / "b.csv", "id,v\n1,x\n2,y\n")
    write_csv(landing / "b" / "b.csv", "id,v\n1,p\n")
    return landing


def _current(table):
    def mart(sp, catalog):
        return read_table(sp, catalog.path("silver", table)).where("is_current").select("id", "v")

    return mart


def test_concurrent_map_keeps_order_and_runs_units_together(spark):
    """The one thread map: results in item order, every call on its own
    thread at the same time (a barrier only the concurrent calls pass),
    each inheriting the caller's job group; one item runs inline."""
    import threading

    from azure_sales_etl_pipeline_spark.functions import concurrent_map

    sc = spark.sparkContext
    together = threading.Barrier(3, timeout=60)

    def unit(i):
        together.wait()
        return i, sc.getLocalProperty("spark.jobGroup.id")

    sc.setJobGroup("caller", "caller")
    try:
        assert concurrent_map(unit, [2, 0, 1]) == [(2, "caller"), (0, "caller"), (1, "caller")]
    finally:
        sc._jsc.clearJobGroup()
    caller = threading.get_ident()
    assert concurrent_map(lambda _: threading.get_ident(), ["one"]) == [caller]
    assert concurrent_map(unit, []) == []


def test_concurrent_stage_cuts_belong_to_the_caller_scope(spark, tmp_path):
    """A gold mart that cuts runs on a pool thread, yet its cut belongs
    to the scope open around ``run``: kept until that scope exits, then
    freed, so ``getPersistentRDDs()`` is back to its prior set."""
    from azure_sales_etl_pipeline_spark.operators import rounds

    def cut_current(table):
        return lambda sp, catalog: rounds.cut(_current(table)(sp, catalog))

    pipe = MedallionPipeline(
        spark,
        str(tmp_path / "lake"),
        [TableConfig("a", "id"), TableConfig("b", "id")],
        clock=lambda: dt.datetime(2024, 1, 1),
        gold_marts={"ma": cut_current("a"), "mb": cut_current("b")},
    )

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    with rounds.scope():
        assert all(r.ok for r in pipe.run(str(_two_table_landing(tmp_path))))
        assert len(persistent() - before) == 2  # the marts' cuts, still owned
    assert persistent() == before


def test_every_stage_job_carries_the_caller_group_and_its_stage(spark, tmp_path, monkeypatch):
    """Under a caller job group, a 2-table, 2-mart run labels every job:
    the group is the caller's, and each stage's jobs are described by
    its run-log stage name. The control plane (the run id, the run-log
    append) fires no job, so no job is left with the caller's own
    description."""
    from azure_sales_etl_pipeline_spark.observe import count_jobs, jobs_by_stage

    pipe = MedallionPipeline(
        spark,
        str(tmp_path / "lake"),
        [TableConfig("a", "id"), TableConfig("b", "id")],
        clock=lambda: dt.datetime(2024, 1, 1),
        gold_marts={"ma": _current("a"), "mb": _current("b")},
    )
    control = []

    def counted(call):
        def wrapper(*args):
            out = []
            control.append(count_jobs(spark, lambda: out.append(call(*args))))
            return out[0]

        return wrapper

    for name in ("_next_run_id", "_persist_log"):
        monkeypatch.setattr(pipe, name, counted(getattr(pipe, name)))
    landing = _two_table_landing(tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("run-group", "control")
    try:
        jobs = jobs_by_stage(spark, lambda: pipe.run(str(landing)))
    finally:
        sc._jsc.clearJobGroup()

    assert {group for group, _ in jobs} == {"run-group"}
    by_stage = {desc: n for (_, desc), n in jobs.items()}
    stages = {"ingest:a", "ingest:b", "a", "b", "gold:ma", "gold:mb"}
    assert set(by_stage) == stages
    assert all(by_stage[s] > 0 for s in stages)
    assert control == [0, 0]


def test_control_plane_commits_fire_no_job(spark, tmp_path):
    """The next run id, the run-log append and a watermark commit are
    written and read on the driver: 0 Spark jobs each, and the log still
    reads back through ``read_table``."""
    from azure_sales_etl_pipeline_spark.observe import count_jobs

    pipe = MedallionPipeline(spark, str(tmp_path / "lake"), [TableConfig("a", "id")],
                             clock=lambda: dt.datetime(2024, 1, 1))
    pipe.run(str(_two_table_landing(tmp_path)))
    got = []
    assert count_jobs(spark, lambda: got.append(pipe._next_run_id())) == 0
    assert got == [2]
    assert count_jobs(spark, lambda: pipe._persist_log(2, dt.datetime(2024, 1, 2), [])) == 0
    assert count_jobs(spark, lambda: pipe._persist_log(
        3, dt.datetime(2024, 1, 3), [pipe._attempt("a", lambda: {"insert": 4})])) == 0
    assert count_jobs(spark, lambda: pipe.watermarks.set("a", dt.datetime(2024, 5, 1))) == 0
    assert pipe.watermarks.get("a") == dt.datetime(2024, 5, 1)
    assert pipe._next_run_id() == 4
    log = sorted((r["run_id"], r["stage"], r["n_insert"]) for r in
                 read_table(spark, pipe.log_path).collect())
    assert log == [(1, "__ingest__", 3), (1, "a", 2), (3, "a", 4)]


def test_replay_run_fires_only_data_jobs(spark, tmp_path):
    """A replay of the same landing batch: each ingest fires its write
    alone, each all-NO-CHANGE SCD2 stage at most 3 jobs (the cut), and
    gold, whose silver inputs did not change, none."""
    from azure_sales_etl_pipeline_spark.observe import jobs_by_stage

    clock = [dt.datetime(2024, 1, 1)]
    pipe = MedallionPipeline(
        spark,
        str(tmp_path / "lake"),
        [TableConfig("a", "id"), TableConfig("b", "id")],
        clock=lambda: clock[0],
        gold_marts={"ma": _current("a"), "mb": _current("b")},
    )
    landing = _two_table_landing(tmp_path)
    first = pipe.run(str(landing))
    clock[0] = dt.datetime(2024, 1, 2)
    out = []
    jobs = jobs_by_stage(spark, lambda: out.append(pipe.run(str(landing))))
    by_stage = {desc: n for (_, desc), n in jobs.items()}
    assert by_stage.pop("ingest:a") == 1 and by_stage.pop("ingest:b") == 1
    assert set(by_stage) <= {"a", "b"} and all(n <= 3 for n in by_stage.values())
    replay = {r.table: r.stats for r in out[0]}
    assert replay["a"] == {"insert": 0, "update": 0, "no_change": 2}
    assert replay["gold:ma"] == {"rows": 2} and replay["gold:mb"] == {"rows": 1}
    assert [r.stats for r in first if r.table.startswith("gold:")] == [{"rows": 2}, {"rows": 1}]


def _lake_files(root):
    return {f: f.read_bytes() for f in sorted(root.rglob("*")) if f.is_file()}


def test_header_only_landing_and_empty_window_write_nothing(spark, tmp_path):
    """After a first load, a run whose landing file holds only its
    header ingests 0 rows, and the SCD2 stage then sees an empty
    watermark window: today's zero stats, and bronze, silver and the
    watermark are left byte for byte as they were."""
    landing = tmp_path / "landing"
    write_csv(landing / "t" / "b.csv", "id,v\n1,x\n2,y\n")
    clock = [dt.datetime(2024, 1, 1)]
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"), [TableConfig("t", "id")],
                             clock=lambda: clock[0])
    assert all(r.ok for r in pipe.run(str(landing)))
    lake = tmp_path / "lake"
    before = {layer: _lake_files(lake / layer) for layer in ("bronze", "silver")}
    wm = _lake_files(lake / "state" / "watermarks")
    clock[0] = dt.datetime(2024, 1, 2)
    write_csv(landing / "t" / "b.csv", "\nid,v\n  \n")
    results = {r.table: r for r in pipe.run(str(landing))}
    assert results["__ingest__"].stats == {"rows": {"t": 0}}
    assert results["t"].ok and results["t"].stats == {"insert": 0, "update": 0, "no_change": 0}
    assert {layer: _lake_files(lake / layer) for layer in ("bronze", "silver")} == before
    assert _lake_files(lake / "state" / "watermarks") == wm


def test_two_file_landing_with_one_header_takes_the_pinned_path(spark, tmp_path):
    """A landing dir of two files with the same header loads through the
    pinned reader, read on the driver: the write is the load's one job.
    A file whose header disagrees sends the load to inference."""
    from azure_sales_etl_pipeline_spark.observe import count_jobs
    from azure_sales_etl_pipeline_spark.sources.ingest import CsvIngestor, landing_header

    landing = tmp_path / "landing" / "t"
    write_csv(landing / "b0.csv", "id,amount\n1,1.5\n")
    ing = CsvIngestor(spark, str(tmp_path / "bronze"), clock=lambda: dt.datetime(2024, 1, 1))
    assert ing.ingest("t", str(landing)) == 1
    write_csv(landing / "b0.csv", "id,amount\n2,3\n\n")
    write_csv(landing / "b1.csv", '"id","amount"\n3,4.25\n4,5\n')
    write_csv(landing / "_skipped" / "x.csv", "other\n")
    assert landing_header(str(landing)) == (["id", "amount"], True)
    got = []
    assert count_jobs(spark, lambda: got.append(ing.ingest("t", str(landing)))) == 1
    assert got == [3]
    bronze = read_table(spark, str(tmp_path / "bronze" / "t"))
    assert sorted((r["id"], r["amount"]) for r in bronze.collect()) == [
        (1, 1.5), (2, 3.0), (3, 4.25), (4, 5.0)]
    write_csv(landing / "b2.csv", "id,amount,extra\n")
    assert landing_header(str(landing)) == (None, True)


def test_gold_mart_refreshes_every_run_unless_its_inputs_are_files(spark, tmp_path):
    """Replays over unchanged silver leave a plain mart alone (one
    commit, three runs), but refresh, on every run, a mart that reads
    the clock, draws ``rand``, has a ``local_df`` or ``rounds.cut``
    leaf, calls a Python UDF (plain, ``mapInPandas`` or
    ``applyInPandas``: the plan names the function, not its code), or
    whose builder changes a literal."""
    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.functions import local_df
    from azure_sales_etl_pipeline_spark.operators import rounds
    from azure_sales_etl_pipeline_spark.operators.writer import snapshot_current_version

    current = _current("a")
    bang = F.udf(lambda v: v + "!", "string")
    calls = []

    def literal(sp, catalog):
        calls.append(1)
        return current(sp, catalog).withColumn("n", F.lit(len(calls)))

    marts = {
        "plain": current,
        "clock": lambda sp, c: current(sp, c).withColumn("at", F.current_timestamp()),
        # a fixed seed prints the same plan on every run: only the
        # determinism guard refreshes it
        "rand": lambda sp, c: current(sp, c).withColumn("r", F.rand(7)),
        "local": lambda sp, c: current(sp, c).unionByName(local_df(sp, [(9, "z")], "id int, v string")),
        "cut": lambda sp, c: rounds.cut(current(sp, c)),
        "literal": literal,
        "udf": lambda sp, c: current(sp, c).withColumn("v", bang("v")),
        "pandas_map": lambda sp, c: current(sp, c).mapInPandas(lambda frames: frames, "id int, v string"),
        "pandas_group": lambda sp, c: current(sp, c).groupBy("id").applyInPandas(
            lambda frame: frame, "id int, v string"),
    }
    clock = [dt.datetime(2024, 1, 1)]
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"), [TableConfig("a", "id")],
                             clock=lambda: clock[0], gold_marts=marts)
    landing = _two_table_landing(tmp_path)
    with rounds.scope():
        for day in (1, 2, 3):
            clock[0] = dt.datetime(2024, 1, day)
            assert all(r.ok for r in pipe.run(str(landing)))
    versions = {m: snapshot_current_version(pipe.catalog.path("gold", m)) for m in marts}
    assert versions == {"plain": 1, **{m: 3 for m in marts if m != "plain"}}
    gold = read_table(spark, pipe.catalog.path("gold", "literal"))
    assert {r["n"] for r in gold.collect()} == {3}


def test_gold_mart_is_left_alone_under_a_lake_root_with_a_space(spark, tmp_path):
    """Spark lists input files as percent-encoded URIs (``my%20lake``);
    the fingerprints stat the decoded paths, so a second run over
    unchanged silver succeeds and leaves the mart at its first commit."""
    from azure_sales_etl_pipeline_spark.operators.writer import snapshot_current_version

    clock = [dt.datetime(2024, 1, 1)]
    pipe = MedallionPipeline(spark, str(tmp_path / "my lake"), [TableConfig("a", "id")],
                             clock=lambda: clock[0], gold_marts={"ma": _current("a")})
    landing = _two_table_landing(tmp_path)
    for day in (1, 2):
        clock[0] = dt.datetime(2024, 1, day)
        results = {r.table: r for r in pipe.run(str(landing))}
        assert all(r.ok for r in results.values())
        assert results["gold:ma"].stats == {"rows": 2}
    assert snapshot_current_version(pipe.catalog.path("gold", "ma")) == 1


def test_idle_table_fires_no_job_and_writes_nothing(spark, tmp_path):
    """A table with nothing newly landed holds the bronze files its
    watermark was advanced over: its SCD2 stage gives the empty window's
    zero stats at 0 jobs, leaving silver and the watermark as they were.
    Its next landed batch runs the upsert again."""
    import shutil

    from azure_sales_etl_pipeline_spark.observe import jobs_by_stage

    clock = [dt.datetime(2024, 1, 1)]
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"),
                             [TableConfig("a", "id"), TableConfig("b", "id")],
                             clock=lambda: clock[0])
    landing = _two_table_landing(tmp_path)
    assert all(r.ok for r in pipe.run(str(landing)))
    lake = tmp_path / "lake"
    before = [_lake_files(lake / "silver" / "b"), _lake_files(lake / "state" / "watermarks")]
    shutil.rmtree(landing / "b")
    clock[0] = dt.datetime(2024, 1, 2)
    out = []
    jobs = jobs_by_stage(spark, lambda: out.append(pipe.run(str(landing))))
    results = {r.table: r for r in out[0]}
    assert results["b"].ok and results["b"].stats == {"insert": 0, "update": 0, "no_change": 0}
    assert results["a"].stats == {"insert": 0, "update": 0, "no_change": 2}
    assert {desc for _, desc in jobs} == {"ingest:a", "a"}
    assert _lake_files(lake / "silver" / "b") == before[0]
    assert {f: v for f, v in _lake_files(lake / "state" / "watermarks").items()
            if "b.wm" in f.parts} == {f: v for f, v in before[1].items() if "b.wm" in f.parts}
    write_csv(landing / "b" / "b2.csv", "id,v\n1,q\n")
    clock[0] = dt.datetime(2024, 1, 3)
    results = {r.table: r for r in pipe.run(str(landing))}
    assert results["b"].stats["update"] == 1


def test_late_rows_give_an_empty_window_that_writes_nothing(spark, tmp_path):
    """Over changed bronze the window is cut without a probe: a batch
    whose rows are all at or below the watermark (a business-time
    ``ts_col``) runs the upsert, which counts zero of every action; the
    stats are the empty window's, and silver and the watermark are left
    byte for byte as they were."""
    landing = tmp_path / "landing"
    write_csv(landing / "t" / "b.csv", "id,v,ts\n1,x,2024-01-05 00:00:00\n")
    clock = [dt.datetime(2024, 1, 6)]
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"), [TableConfig("t", "id", ts_col="ts")],
                             clock=lambda: clock[0])
    assert all(r.ok for r in pipe.run(str(landing)))
    lake = tmp_path / "lake"
    before = [_lake_files(lake / "silver"), _lake_files(lake / "state" / "watermarks")]
    write_csv(landing / "t" / "b.csv", "id,v,ts\n2,y,2024-01-01 00:00:00\n")
    clock[0] = dt.datetime(2024, 1, 7)
    results = {r.table: r for r in pipe.run(str(landing))}
    assert results["__ingest__"].stats == {"rows": {"t": 1}}
    assert results["t"].ok and results["t"].stats == {"insert": 0, "update": 0, "no_change": 0}
    assert [_lake_files(lake / "silver"), _lake_files(lake / "state" / "watermarks")] == before
    assert pipe.watermarks.get("t") == dt.datetime(2024, 1, 5)
