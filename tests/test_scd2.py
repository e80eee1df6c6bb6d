"""SCD2 multi-run convergence tests (VERDICT.md next-round item 2):
insert → update → no-change → rerun idempotency, side-output hook,
delete-detection-without-action, schema adaptation."""

from __future__ import annotations

import datetime as dt

import pytest

from azure_sales_etl_pipeline_spark.operators.scd2 import SCD2Table


@pytest.fixture()
def clock():
    state = {"now": dt.datetime(2024, 1, 1)}

    def tick(to: dt.datetime):
        state["now"] = to

    return state, tick


def make_dim(spark, tmp_path, clock_state, **kw):
    return SCD2Table(
        spark, str(tmp_path / "dim"), "id", clock=lambda: clock_state["now"], **kw
    )


def df(spark, rows):
    return spark.createDataFrame(rows, "id int, name string, segment string")


def test_initial_load_then_update(spark, tmp_path, clock):
    state, tick = clock
    dim = make_dim(spark, tmp_path, state)
    assert dim.upsert(df(spark, [(1, "Alice", "RETAIL"), (2, "Bob", "CORP")])) == {
        "insert": 2,
        "update": 0,
        "no_change": 0,
    }
    tick(dt.datetime(2024, 2, 1))
    stats = dim.upsert(
        df(spark, [(1, "Alice", "WHOLESALE"), (2, "Bob", "CORP"), (3, "Cara", "RETAIL")])
    )
    assert stats == {"insert": 1, "update": 1, "no_change": 1}

    hist = {(r["id"], r["segment"], r["is_current"]): r for r in dim.history().collect()}
    assert len(hist) == 4
    expired = hist[(1, "RETAIL", False)]
    assert expired["end_date"] == dt.datetime(2024, 2, 1)
    current = hist[(1, "WHOLESALE", True)]
    assert current["effective_date"] == dt.datetime(2024, 2, 1)
    assert current["end_date"] is None
    # untouched key keeps original effective date
    assert hist[(2, "CORP", True)]["effective_date"] == dt.datetime(2024, 1, 1)


def test_rerun_is_idempotent(spark, tmp_path, clock):
    state, tick = clock
    dim = make_dim(spark, tmp_path, state)
    batch = df(spark, [(1, "Alice", "RETAIL")])
    dim.upsert(batch)
    tick(dt.datetime(2024, 3, 1))
    assert dim.upsert(batch) == {"insert": 0, "update": 0, "no_change": 1}
    assert dim.history().count() == 1  # nothing rewritten


def test_absent_rows_not_deleted(spark, tmp_path, clock):
    """Target-only keys are detected but untouched (the reference leaves
    deletes unimplemented, README.MD:141)."""
    state, tick = clock
    dim = make_dim(spark, tmp_path, state)
    dim.upsert(df(spark, [(1, "Alice", "RETAIL"), (2, "Bob", "CORP")]))
    tick(dt.datetime(2024, 2, 1))
    dim.upsert(df(spark, [(1, "Alice", "RETAIL")]))
    cur = {r["id"]: r for r in dim.current().collect()}
    assert set(cur) == {1, 2}
    assert cur[2]["is_current"] is True


def test_on_insert_side_output(spark, tmp_path, clock):
    """T7: the new-customer hook fires with exactly the INSERT rows."""
    state, tick = clock
    captured = []
    dim = make_dim(
        spark, tmp_path, state, on_insert=lambda d: captured.append({r["id"] for r in d.collect()})
    )
    dim.upsert(df(spark, [(1, "Alice", "RETAIL")]))
    tick(dt.datetime(2024, 2, 1))
    dim.upsert(df(spark, [(1, "Alice", "CHANGED"), (5, "Eve", "NEW")]))
    assert captured == [{1}, {5}]


def test_three_batch_history_chain(spark, tmp_path, clock):
    """A key updated twice carries a 3-version chain with contiguous
    effective/end ranges and exactly one current row."""
    state, tick = clock
    dim = make_dim(spark, tmp_path, state)
    dim.upsert(df(spark, [(1, "Alice", "V1")]))
    tick(dt.datetime(2024, 2, 1))
    dim.upsert(df(spark, [(1, "Alice", "V2")]))
    tick(dt.datetime(2024, 3, 1))
    dim.upsert(df(spark, [(1, "Alice", "V3")]))
    rows = sorted(dim.history().collect(), key=lambda r: r["effective_date"])
    assert [r["segment"] for r in rows] == ["V1", "V2", "V3"]
    assert [r["is_current"] for r in rows] == [False, False, True]
    assert rows[0]["end_date"] == rows[1]["effective_date"]
    assert rows[1]["end_date"] == rows[2]["effective_date"]


def test_on_delete_expire_three_batch_convergence(spark, tmp_path, clock):
    """on_delete='expire': absent keys expire with no successor; replaying
    the post-delete snapshot is a no-op; a deleted key can be re-inserted
    as a fresh current version over its tombstone."""
    state, tick = clock
    dim = make_dim(spark, tmp_path, state, on_delete="expire")
    assert dim.upsert(
        df(spark, [(1, "Alice", "RETAIL"), (2, "Bob", "CORP"), (3, "Cara", "RETAIL")])
    ) == {"insert": 3, "update": 0, "no_change": 0, "deleted": 0}

    # Batch 2: full snapshot without key 2 -> delete; key 1 changes.
    tick(dt.datetime(2024, 2, 1))
    assert dim.upsert(df(spark, [(1, "Alice", "WHOLESALE"), (3, "Cara", "RETAIL")])) == {
        "insert": 0,
        "update": 1,
        "no_change": 1,
        "deleted": 1,
    }
    hist = {(r["id"], r["is_current"]): r for r in dim.history().collect()}
    tombstone = hist[(2, False)]
    assert tombstone["end_date"] == dt.datetime(2024, 2, 1)
    assert (2, True) not in hist  # no successor row for a deletion

    # Replaying the same snapshot must be a pure no-op (at-least-once).
    assert dim.upsert(df(spark, [(1, "Alice", "WHOLESALE"), (3, "Cara", "RETAIL")])) == {
        "insert": 0,
        "update": 0,
        "no_change": 2,
        "deleted": 0,
    }

    # Batch 3: key 2 returns -> INSERT over its tombstone.
    tick(dt.datetime(2024, 3, 1))
    assert dim.upsert(
        df(spark, [(1, "Alice", "WHOLESALE"), (2, "Bob", "REBORN"), (3, "Cara", "RETAIL")])
    ) == {"insert": 1, "update": 0, "no_change": 2, "deleted": 0}
    rows = [r for r in dim.history().collect() if r["id"] == 2]
    by_cur = {r["is_current"]: r for r in rows}
    assert len(rows) == 2
    assert by_cur[False]["end_date"] == dt.datetime(2024, 2, 1)
    assert by_cur[True]["segment"] == "REBORN"
    assert by_cur[True]["effective_date"] == dt.datetime(2024, 3, 1)


def test_on_delete_default_ignores_absent(spark, tmp_path, clock):
    """Default mode stays faithful to the reference: ABSENT keys are
    detected but untouched, and stats carry no 'deleted' key."""
    state, tick = clock
    dim = make_dim(spark, tmp_path, state)
    dim.upsert(df(spark, [(1, "Alice", "RETAIL"), (2, "Bob", "CORP")]))
    tick(dt.datetime(2024, 2, 1))
    stats = dim.upsert(df(spark, [(1, "Alice", "RETAIL")]))
    assert stats == {"insert": 0, "update": 0, "no_change": 1}
    hist = {(r["id"], r["is_current"]) for r in dim.history().collect()}
    assert (2, True) in hist  # untouched current row


def test_on_delete_rejects_unknown_mode(spark, tmp_path, clock):
    state, _ = clock
    with pytest.raises(ValueError, match="on_delete"):
        make_dim(spark, tmp_path, state, on_delete="purge")


def test_as_of_snapshots_between_and_after_loads(spark, tmp_path):
    """as_of must reproduce each load's state at any instant inside its
    validity window: before batch 2, the changed key still shows its
    batch-1 value; after, the new value; and a key first seen in batch
    2 is absent from the earlier snapshot."""
    import datetime as dt

    from azure_sales_etl_pipeline_spark.operators.scd2 import SCD2Table

    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    clock = [t1]
    dim = SCD2Table(spark, str(tmp_path / "dim"), "k", clock=lambda: clock[0])
    dim.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    clock[0] = t2
    dim.upsert(spark.createDataFrame([(1, "A"), (3, "c")], "k bigint, v string"))

    mid = {r["k"]: r["v"] for r in dim.as_of(dt.datetime(2024, 1, 15)).collect()}
    assert mid == {1: "a", 2: "b"}  # pre-change values; key 3 not born yet
    final = {r["k"]: r["v"] for r in dim.as_of(dt.datetime(2024, 3, 1)).collect()}
    assert final == {1: "A", 2: "b", 3: "c"}
    # exactly at the batch-2 instant the NEW version is effective
    at_t2 = {r["k"]: r["v"] for r in dim.as_of(t2).collect()}
    assert at_t2 == {1: "A", 2: "b", 3: "c"}


def test_ensure_members_infers_and_completes(spark, tmp_path):
    """ensure_members inserts typed-NULL placeholders only for missing
    referenced keys, is idempotent, and the eventual real row expires
    the placeholder through the ordinary upsert path."""
    import datetime as dt

    from azure_sales_etl_pipeline_spark.operators.scd2 import SCD2Table

    t = [dt.datetime(2024, 1, 1)]
    dim = SCD2Table(spark, str(tmp_path / "dim"), "k", clock=lambda: t[0])
    dim.upsert(spark.createDataFrame([(1, "a")], "k bigint, v string"))

    t[0] = dt.datetime(2024, 2, 1)
    refs = spark.createDataFrame([(1,), (2,), (2,), (3,)], "k bigint")
    assert dim.ensure_members(refs) == 2          # keys 2, 3 inferred
    assert dim.ensure_members(refs) == 0          # idempotent
    cur = {r["k"]: r["v"] for r in dim.current().collect()}
    assert cur == {1: "a", 2: None, 3: None}

    t[0] = dt.datetime(2024, 3, 1)
    dim.upsert(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    hist = dim.history().collect()
    placeholder = [r for r in hist if r["k"] == 2 and not r["is_current"]]
    assert len(placeholder) == 1 and placeholder[0]["v"] is None
    assert {r["k"]: r["v"] for r in dim.current().collect()} == {1: "a", 2: "b", 3: None}


def test_ensure_members_does_not_expire_on_delete_expire_table(spark, tmp_path):
    """r6 advisory regression: on an on_delete="expire" dimension, the
    placeholder batch is PARTIAL (missing keys only) — every existing
    current key is absent from it, and routing it through snapshot
    semantics would soft-delete the whole dimension. ensure_members
    must suppress absent-key expiry for its internal upsert while the
    table keeps expire semantics for real full-snapshot batches."""
    import datetime as dt

    from azure_sales_etl_pipeline_spark.operators.scd2 import SCD2Table

    t = [dt.datetime(2024, 1, 1)]
    dim = SCD2Table(
        spark, str(tmp_path / "dim"), "k", clock=lambda: t[0], on_delete="expire"
    )
    dim.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))

    t[0] = dt.datetime(2024, 2, 1)
    refs = spark.createDataFrame([(1,), (3,)], "k bigint")
    assert dim.ensure_members(refs) == 1          # key 3 inferred
    cur = {r["k"]: r["v"] for r in dim.current().collect()}
    assert cur == {1: "a", 2: "b", 3: None}       # 1 and 2 NOT expired

    # snapshot semantics still live for real batches: a full snapshot
    # omitting key 2 expires it
    t[0] = dt.datetime(2024, 3, 1)
    stats = dim.upsert(
        spark.createDataFrame([(1, "a"), (3, "c")], "k bigint, v string")
    )
    assert stats["deleted"] == 1
    assert {r["k"] for r in dim.current().collect()} == {1, 3}


def test_enrich_asof_boundary_and_missing_keys(spark, tmp_path):
    """Temporal enrichment edges: a fact at EXACTLY the new version's
    effective instant gets the NEW version (closed start), a fact at
    the old version's end instant does NOT get the old one (open end),
    and facts for never-loaded keys survive with NULL attributes."""
    import datetime as _dt

    import pyspark.sql.functions as F

    t1, t2 = _dt.datetime(2024, 1, 1), _dt.datetime(2024, 2, 1)
    clock = [t1]
    dim = SCD2Table(spark, str(tmp_path / "dim"), "k", clock=lambda: clock[0])
    dim.upsert(spark.createDataFrame([(1, "v1")], "k bigint, attr string"))
    clock[0] = t2
    dim.upsert(spark.createDataFrame([(1, "v2")], "k bigint, attr string"))

    facts = spark.createDataFrame(
        [
            (100, 1, t2),                          # exactly at boundary -> v2
            (101, 1, t2 - _dt.timedelta(seconds=1)),  # just before -> v1
            (102, 1, t1),                          # at first load -> v1
            (103, 9, t2),                          # never-loaded key -> NULL
        ],
        "fact_id bigint, k bigint, ts timestamp",
    )
    out = {r["fact_id"]: r for r in dim.enrich_asof(facts, "k", "ts").collect()}
    assert out[100]["dim_attr"] == "v2"
    assert out[101]["dim_attr"] == "v1"
    assert out[102]["dim_attr"] == "v1"
    assert out[103]["dim_attr"] is None and out[103]["dim_k"] is None
    assert len(out) == 4  # left join: one row per fact, none duplicated


def test_enrich_asof_facts_with_own_validity_columns(spark, tmp_path):
    """r8 advisory: a facts table carrying its OWN effective_date /
    end_date columns (common in ETL fact tables) must neither raise an
    ambiguous-reference error nor lose those columns — the dimension's
    validity interval is dim_-prefixed like every other dim column."""
    import datetime as _dt

    t1, t2 = _dt.datetime(2024, 1, 1), _dt.datetime(2024, 2, 1)
    clock = [t1]
    dim = SCD2Table(spark, str(tmp_path / "dim"), "k", clock=lambda: clock[0])
    dim.upsert(spark.createDataFrame([(1, "v1")], "k bigint, attr string"))
    clock[0] = t2
    dim.upsert(spark.createDataFrame([(1, "v2")], "k bigint, attr string"))

    facts = spark.createDataFrame(
        [(100, 1, t2, t1, t2), (101, 1, t1, t1, None)],
        "fact_id bigint, k bigint, ts timestamp,"
        " effective_date timestamp, end_date timestamp",
    )
    enriched = dim.enrich_asof(facts, "k", "ts")
    assert "effective_date" in enriched.columns  # the FACT's own column
    assert "end_date" in enriched.columns
    out = {r["fact_id"]: r for r in enriched.collect()}
    assert out[100]["dim_attr"] == "v2" and out[100]["effective_date"] == t1
    assert out[101]["dim_attr"] == "v1" and out[101]["end_date"] is None


def _versions(dim):
    return sorted(
        (r["id"], r["name"], r["segment"], r["is_current"], r["effective_date"], r["end_date"])
        for r in dim.history().collect()
    )


@pytest.mark.parametrize("on_delete", ["ignore", "expire"])
def test_repeated_batch_keys_expire_once_and_version_every_row(spark, tmp_path, clock, on_delete):
    """A batch that repeats a business key matching a current row (the
    full-outer join fans out to one row per duplicate) still expires that
    current row ONCE, and every source row of a key with any changed
    duplicate becomes a new version — the NO CHANGE duplicate included.
    A key loaded twice has two current rows; an update expires both and
    adds one successor."""
    state, tick = clock
    dim = make_dim(spark, tmp_path, state, on_delete=on_delete)
    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    dim.upsert(
        df(spark, [(1, "A", "R"), (2, "B", "C"), (4, "D", "X"), (4, "D", "X"), (5, "E", "Q")])
    )
    tick(t2)
    stats = dim.upsert(
        df(
            spark,
            [
                (1, "A", "W"), (1, "A", "R"),      # UPDATE + NO CHANGE duplicate
                (2, "B", "X"), (2, "B", "Y"),      # two UPDATEs
                (3, "C", "N"), (3, "C", "N"),      # two INSERTs, identical rows
                (4, "D", "Z"),                     # one row over two current rows
            ],
        )
    )
    expected_stats = {"insert": 2, "update": 5, "no_change": 1}
    if on_delete == "expire":
        expected_stats["deleted"] = 1  # key 5
    assert stats == expected_stats

    closed = [(1, "A", "R", False, t1, t2), (2, "B", "C", False, t1, t2),
              (4, "D", "X", False, t1, t2), (4, "D", "X", False, t1, t2)]
    key5 = (5, "E", "Q", False, t1, t2) if on_delete == "expire" else (5, "E", "Q", True, t1, None)
    new = [(1, "A", "R", True, t2, None), (1, "A", "W", True, t2, None),
           (2, "B", "X", True, t2, None), (2, "B", "Y", True, t2, None),
           (3, "C", "N", True, t2, None), (3, "C", "N", True, t2, None),
           (4, "D", "Z", True, t2, None)]
    assert _versions(dim) == sorted(closed + new + [key5])

    # Replaying only NO CHANGE duplicates writes nothing.
    tick(dt.datetime(2024, 3, 1))
    before = _versions(dim)
    replay = dim.upsert(df(spark, [(4, "D", "Z"), (4, "D", "Z")]), expire_absent=False)
    expected_stats = {"insert": 0, "update": 0, "no_change": 2}
    if on_delete == "expire":
        expected_stats["deleted"] = 0
    assert replay == expected_stats
    assert _versions(dim) == before


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("fault", ["write", "on_insert", "none", "replay"])
def test_upsert_releases_its_materializations(spark, tmp_path, clock, monkeypatch, fault):
    """An upsert leaves no persisted frame behind: neither when the
    table write or the ``on_insert`` hook raises, nor when a changing
    upsert succeeds, nor when an all-NO-CHANGE replay returns right
    after the cut."""
    from azure_sales_etl_pipeline_spark.operators import scd2

    state, tick = clock

    def boom(*_a, **_k):
        raise RuntimeError("injected fault")

    armed = []

    def hook(d):
        if armed:
            boom()

    dim = make_dim(spark, tmp_path, state, on_insert=hook)
    dim.upsert(df(spark, [(1, "A", "R"), (2, "B", "C")]))
    tick(dt.datetime(2024, 2, 1))
    if fault == "write":
        monkeypatch.setattr(scd2, "overwrite_table", boom)
    elif fault == "on_insert":
        armed.append(True)
    before = _persistent_rdds(spark)
    batch = df(spark, [(1, "A", "R")] if fault == "replay" else [(1, "A", "W"), (3, "C", "N")])
    if fault in ("none", "replay"):
        assert dim.upsert(batch)["update"] == (fault == "none")
    else:
        with pytest.raises(RuntimeError, match="injected fault"):
            dim.upsert(batch)
    assert _persistent_rdds(spark) == before


def test_null_business_key_rows_never_match(spark, tmp_path, clock):
    """A null key equals nothing: a batch row with a null key is an
    INSERT that lands as a new version, and a current row with a null
    key is ABSENT from every batch (expired in expire mode)."""
    state, tick = clock
    dim = make_dim(spark, tmp_path, state, on_delete="expire")
    dim.upsert(df(spark, [(1, "A", "R"), (None, "Z", "R")]))
    tick(dt.datetime(2024, 2, 1))
    assert dim.upsert(df(spark, [(1, "A", "W"), (None, "Y", "R")])) == {
        "insert": 1, "update": 1, "no_change": 0, "deleted": 1,
    }
    cur = sorted(((r["id"], r["name"]) for r in dim.current().collect()), key=repr)
    assert cur == [(1, "A"), (None, "Y")]
