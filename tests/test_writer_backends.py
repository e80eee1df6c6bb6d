"""Writer surface: managed (metastore) tables S14/S8, the JDBC
fake-reader pushdown check S11, SCD2 upsert over a schema-evolved batch,
versioned snapshots, and the table-commit protocol under injected
crashes."""

from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path

import pytest

from azure_sales_etl_pipeline_spark.operators.scd2 import SCD2Table
from azure_sales_etl_pipeline_spark.operators.writer import (
    create_database,
    save_managed_table,
)
from azure_sales_etl_pipeline_spark.sources.extract import incremental_extract


# ---------------------------------------------------------------------------
# S14 + S8 — metastore database + managed table, queryable BY NAME
# (reference 2_Bronze_to_Silver.py:11 CREATE DATABASE, :114-116 saveAsTable)
# ---------------------------------------------------------------------------


def test_managed_table_round_trip(spark):
    create_database(spark, "silver_test")
    df = spark.createDataFrame(
        [(1, "alice@example.com"), (2, "bob@example.com")], "customer_id int, email string"
    )
    save_managed_table(df, "silver_test.new_customers_for_emailing")
    back = spark.table("silver_test.new_customers_for_emailing")
    assert sorted(r["email"] for r in back.collect()) == [
        "alice@example.com",
        "bob@example.com",
    ]
    # overwrite mode replaces, not appends (the reference's side-output
    # is a full refresh per run)
    save_managed_table(
        df.where("customer_id = 1"), "silver_test.new_customers_for_emailing"
    )
    assert spark.table("silver_test.new_customers_for_emailing").count() == 1
    spark.sql("DROP TABLE silver_test.new_customers_for_emailing")
    spark.sql("DROP DATABASE silver_test")


# ---------------------------------------------------------------------------
# S11 — JDBC incremental extract: no driver jar in the sandbox, so a fake
# reader asserts the synthesized source-side pushdown query instead
# (the ADF Copy activity's dynamic SQL, adf/pipeline.json:126-134)
# ---------------------------------------------------------------------------


class FakeReader:
    def __init__(self):
        self.fmt = None
        self.options: dict[str, str] = {}

    def format(self, fmt):
        self.fmt = fmt
        return self

    def option(self, k, v):
        self.options[k] = v
        return self

    def load(self):
        return "LOADED"


def test_jdbc_extract_synthesizes_pushdown_query():
    rd = FakeReader()
    out = incremental_extract(
        None,
        "UpdatedAt",
        dt.datetime(2024, 1, 1),
        dt.datetime(2024, 2, 1),
        jdbc_url="jdbc:sqlserver://host;database=db",
        table="[dbo].[Customers]",
        reader=rd,
    )
    assert out == "LOADED"
    assert rd.fmt == "jdbc"
    assert rd.options["url"] == "jdbc:sqlserver://host;database=db"
    q = rd.options["query"]
    # the reference's half-open window: > lower AND <= upper
    assert "SELECT * FROM [dbo].[Customers]" in q
    assert "UpdatedAt > '2024-01-01 00:00:00.000000'" in q
    assert "UpdatedAt <= '2024-02-01 00:00:00.000000'" in q


def test_jdbc_extract_requires_table_and_session():
    with pytest.raises(ValueError, match="JDBC extract needs"):
        incremental_extract(
            None, "UpdatedAt", dt.datetime(2024, 1, 1), jdbc_url="jdbc:x"
        )


# ---------------------------------------------------------------------------
# SCD2 upsert over a schema-EVOLVED batch (r2 advisory: strict
# select(*cols) raised AnalysisException when the batch added a column)
# ---------------------------------------------------------------------------


def test_scd2_upsert_schema_evolved_batch(spark, tmp_path):
    now = {"t": dt.datetime(2024, 1, 1)}
    dim = SCD2Table(spark, str(tmp_path / "dim"), "id", clock=lambda: now["t"])
    dim.upsert(spark.createDataFrame([(1, "Alice")], "id int, name string"))
    now["t"] = dt.datetime(2024, 2, 1)
    stats = dim.upsert(
        spark.createDataFrame(
            [(1, "Alice", "NEW"), (2, "Bob", "CORP")],
            "id int, name string, segment string",
        )
    )
    # key 1's hash covers the evolved column set -> re-versioned as UPDATE
    assert stats["insert"] == 1 and stats["update"] == 1
    hist = dim.history().collect()
    assert {f.name for f in dim.history().schema.fields} >= {"id", "name", "segment"}
    old = [r for r in hist if r["id"] == 1 and not r["is_current"]]
    assert len(old) == 1 and old[0]["segment"] is None  # null-backfilled
    cur = {r["id"]: r for r in hist if r["is_current"]}
    assert cur[1]["segment"] == "NEW" and cur[2]["segment"] == "CORP"


def test_write_csv_quote_all_round_trip(spark, tmp_path):
    """ADF DelimitedTextSink parity (S12): quoteAll writes every text
    field quoted, and values with embedded delimiters, quotes, and
    newlines survive a write→read round trip exactly."""
    from azure_sales_etl_pipeline_spark.operators.writer import write_csv

    rows = [
        (1, 'comma, inside', "plain"),
        (2, 'quote " inside', "new\nline"),
        (3, None, "trailing space "),
    ]
    df = spark.createDataFrame(rows, "id int, a string, b string")
    out = str(tmp_path / "landing")
    write_csv(df, out, quote_all=True)

    # every non-null text field is quoted on disk
    import glob

    raw = "".join(open(f).read() for f in glob.glob(out + "/*.csv"))
    assert '"comma, inside"' in raw and '"plain"' in raw

    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .schema(df.schema)
        .csv(out)
    )
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_jdbc_extract_live_round_trip_embedded_derby(spark, tmp_path):
    """LIVE JDBC incremental extract (S11) against an embedded Derby
    database (the derby jars ship inside the Spark distribution): create
    a table with UpdatedAt rows, then pull the half-open watermark
    window through the engine's synthesized pushdown query via a real
    spark.read.jdbc round trip — closing the injectable-reader-only gap
    noted in VERDICT r3."""
    import datetime as dt

    db = str(tmp_path / "derby_src")
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};create=true")
    try:
        st = conn.createStatement()
        st.execute(
            "CREATE TABLE customers (id INT, name VARCHAR(50), updated_at TIMESTAMP)"
        )
        st.execute(
            "INSERT INTO customers VALUES "
            "(1, 'before-window', TIMESTAMP('2024-01-01 00:00:00')), "
            "(2, 'in-window',     TIMESTAMP('2024-02-01 00:00:00')), "
            "(3, 'at-upper',      TIMESTAMP('2024-02-15 00:00:00')), "
            "(4, 'after-window',  TIMESTAMP('2024-03-01 00:00:00'))"
        )
        conn.commit()
    finally:
        conn.close()

    out = incremental_extract(
        None,
        "updated_at",
        dt.datetime(2024, 1, 1),
        dt.datetime(2024, 2, 15),
        jdbc_url=f"jdbc:derby:{db}",
        table="customers",
        spark=spark,
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    rows = sorted((r["ID"], r["NAME"]) for r in out.collect())
    # half-open (lower, upper]: excludes the lower bound row, includes
    # the exact-upper row, excludes later rows
    assert rows == [(2, "in-window"), (3, "at-upper")]


def test_wds_shards_roundtrip_and_reproducible(spark, tmp_path):
    """Tar members must reproduce payload bytes and metadata exactly,
    in deterministic (shard, key) order — and a re-export of identical
    data must be BIT-identical (fixed mtime/uid, ordered members), the
    property that makes shard caches content-addressable."""
    import hashlib
    import json
    import tarfile

    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.sources.formats import (
        read_wds_manifest,
        write_wds_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"payload text {i}", "en" if i % 2 else "es") for i in range(10)],
        "doc_id bigint, text string, lang string",
    ).select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        "lang",
        (F.col("doc_id") % 3).alias("shard_id"),
    )
    digests = []
    for run in ("a", "b"):
        out = tmp_path / f"wds_{run}"
        write_wds_shards(docs, str(out), meta_cols=("lang",))
        manifest = read_wds_manifest(str(out))
        assert sorted(m["shard_id"] for m in manifest) == [0, 1, 2]
        assert sum(m["n_samples"] for m in manifest) == 10
        run_digest = []
        for m in manifest:
            tar_path = out / f"shard-{m['shard_id']:06d}.tar"
            run_digest.append(hashlib.sha256(tar_path.read_bytes()).hexdigest())
            with tarfile.open(tar_path) as tar:
                names = tar.getnames()
                # strictly ordered: key.txt then key.json per sample
                assert names == sorted(names, key=lambda n: (n[:12], n.endswith("json")))
                for info in tar:
                    data = tar.extractfile(info).read()
                    key = int(info.name[:12])
                    if info.name.endswith(".txt"):
                        assert data == f"payload text {key}".encode()
                        assert key % 3 == m["shard_id"]
                    else:
                        assert json.loads(data)["lang"] in ("en", "es")
        digests.append(run_digest)
    assert digests[0] == digests[1], "re-export must be bit-identical"


def test_wds_shards_distributed_readback(spark, tmp_path):
    """read_wds_shards must recover every sample (payload bytes +
    metadata) from the tar container through the executor path — the
    full export→re-ingest round trip with no driver data plane."""
    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.sources.formats import (
        read_wds_shards,
        write_wds_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"payload text {i}", "en" if i % 2 else "es") for i in range(17)],
        "doc_id bigint, text string, lang string",
    ).select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        "lang",
        (F.col("doc_id") % 4).alias("shard_id"),
    )
    out = tmp_path / "wds_rt"
    write_wds_shards(docs, str(out), meta_cols=("lang",))

    back = read_wds_shards(spark, str(out), meta_fields=("lang",)).collect()
    assert len(back) == 17
    for r in back:
        k = r["sample_key"]
        assert bytes(r["payload"]) == f"payload text {k}".encode()
        assert r["lang"] == ("en" if k % 2 else "es")
        assert r["shard_id"] == k % 4


def test_wds_shards_fsspec_filesystem_branch(spark, tmp_path, monkeypatch):
    """r7 verdict item 6: the object-store path. An fsspec-style
    filesystem passed via filesystem= must round-trip shards through
    fs.open/fs.mv (write tmp + rename), bit-identical to the POSIX
    branch on the same data; a bare URI without fsspec installed still
    fails up front."""
    import hashlib

    import pytest
    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.sources.formats import (
        read_wds_manifest,
        write_wds_shards,
    )

    class _FsspecStyleLocalFS:
        """Minimal fsspec-AbstractFileSystem stand-in (makedirs / open /
        mv / ls over the local disk) — fsspec itself is not installed in
        this sandbox, so the object-store writer branch is exercised
        through the same API surface a real fsspec filesystem presents.
        Defined inside the test so cloudpickle ships it BY VALUE to
        executors (a test-module global pickles by reference, which
        workers cannot import)."""

        def makedirs(self, path, exist_ok=False):
            import os

            os.makedirs(path, exist_ok=exist_ok)

        def open(self, path, mode="rb"):
            return open(path, mode)

        def mv(self, src, dst):
            import os

            os.replace(src, dst)

        def ls(self, path):
            import os

            return [f"{path.rstrip('/')}/{n}" for n in os.listdir(path)]

    docs = spark.createDataFrame(
        [(i, f"payload text {i}", "en" if i % 2 else "es") for i in range(10)],
        "doc_id bigint, text string, lang string",
    ).select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        "lang",
        (F.col("doc_id") % 3).alias("shard_id"),
    )

    posix_out = tmp_path / "posix"
    write_wds_shards(docs, str(posix_out), meta_cols=("lang",))

    fs = _FsspecStyleLocalFS()
    fs_out = tmp_path / "objstore"
    write_wds_shards(docs, str(fs_out), meta_cols=("lang",), filesystem=fs)

    manifest = read_wds_manifest(str(fs_out), filesystem=fs)
    assert sorted(m["shard_id"] for m in manifest) == [0, 1, 2]
    assert sum(m["n_samples"] for m in manifest) == 10
    for shard in (0, 1, 2):
        a = (posix_out / f"shard-{shard:06d}.tar").read_bytes()
        b = (fs_out / f"shard-{shard:06d}.tar").read_bytes()
        assert hashlib.sha256(a).digest() == hashlib.sha256(b).digest()
    assert not list(fs_out.glob("*.tmp")), "tmp files must be renamed away"

    # Pin the intended fsspec-absent branch deterministically: if fsspec
    # ever lands in this environment, the bare URI would otherwise
    # resolve and attempt real network I/O instead of raising
    # (r8 advisory). sys.modules[name] = None makes `import fsspec`
    # raise ImportError regardless of installation.
    monkeypatch.setitem(sys.modules, "fsspec", None)
    with pytest.raises(ValueError, match="fsspec|not reachable"):
        write_wds_shards(docs, "s3://bucket/wds", meta_cols=("lang",))


def test_snapshot_time_travel_semantics(spark, tmp_path):
    """write_snapshot / read_snapshot: version pinning, pointer
    atomicity (a staged-but-unflipped directory is invisible),
    retention pruning, and KeyError on pruned/never-committed pins."""
    import pytest as _pytest

    from azure_sales_etl_pipeline_spark.operators.writer import (
        read_snapshot,
        snapshot_current_version,
        snapshot_versions,
        write_snapshot,
    )

    path = str(tmp_path / "snap")
    df = lambda n: spark.range(n).withColumnRenamed("id", "k")  # noqa: E731

    assert snapshot_current_version(path) is None
    assert write_snapshot(df(3), path) == 1
    assert write_snapshot(df(5), path) == 2
    assert snapshot_current_version(path) == 2
    # time travel: pinned v1 still reads the OLD data
    assert read_snapshot(spark, path, version=1).count() == 3
    assert read_snapshot(spark, path).count() == 5

    # crash simulation: a staged v=3 directory with NO pointer flip —
    # readers must keep resolving to v2 (uncommitted files are not part
    # of any version), while snapshot_versions (the vacuum's view) sees
    # the leftover.
    df(9).write.parquet(str(tmp_path / "snap" / "v=3"))
    assert snapshot_current_version(path) == 2
    assert read_snapshot(spark, path).count() == 5
    assert snapshot_versions(path) == [1, 2, 3]

    # next commit claims v3 — monotone from the POINTER, not the dirs —
    # and mode=overwrite HEALS the crashed leftover by replacing it
    assert write_snapshot(df(7), path, retain=2) == 3
    # retention: retain=2 on the latest write prunes versions <= new-2
    vs = snapshot_versions(path)
    cur = snapshot_current_version(path)
    assert cur == vs[-1]
    assert read_snapshot(spark, path).count() == 7
    assert 1 not in vs  # pruned
    with _pytest.raises(KeyError):
        read_snapshot(spark, path, version=1)

    # retain<=0 must NOT prune the version just committed (review r9:
    # an unguarded prune deleted v=new and left the pointer dangling)
    v = write_snapshot(df(11), path, retain=0)
    assert snapshot_current_version(path) == v
    assert read_snapshot(spark, path).count() == 11


def test_vacuum_snapshots_prunes_history_and_crash_debris(spark, tmp_path):
    from azure_sales_etl_pipeline_spark.operators.writer import (
        read_snapshot,
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
    )

    path = str(tmp_path / "snap")
    df = lambda n: spark.range(n).withColumnRenamed("id", "k")  # noqa: E731
    for n in (2, 3, 4, 5):
        write_snapshot(df(n), path, retain=99)
    # crash debris ABOVE the pointer
    df(9).write.parquet(str(tmp_path / "snap" / "v=9"))
    assert snapshot_versions(path) == [1, 2, 3, 4, 9]
    pruned = vacuum_snapshots(path, retain=2)
    assert pruned == [1, 2, 9]
    assert snapshot_versions(path) == [3, 4]
    assert read_snapshot(spark, path).count() == 5
    assert read_snapshot(spark, path, version=3).count() == 4
    # vacuum on an empty/absent table is a no-op
    assert vacuum_snapshots(str(tmp_path / "nothing")) == []


def test_wds_datasource_matches_mapinpandas_reader(spark, tmp_path):
    """The 'wds' Python DataSource and the binaryFile+mapInPandas
    reader must see byte-identical samples from the same shard export
    — two independent consume paths over one producer."""
    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.sources.formats import (
        read_wds_shards,
        register_wds_datasource,
        write_wds_shards,
    )

    df = spark.createDataFrame(
        [(i, i // 3, bytes(f"payload-{i}", "utf-8")) for i in range(10)],
        "doc_id long, shard_id long, payload binary",
    )
    out = str(tmp_path / "wds")
    write_wds_shards(df, out)

    via_pandas = sorted(
        tuple(r)
        for r in read_wds_shards(spark, out)
        .select("shard_id", "sample_key", "payload")
        .collect()
    )
    register_wds_datasource(spark)
    via_ds = sorted(
        tuple(r)
        for r in spark.read.format("wds")
        .load(out)
        .select("shard_id", "sample_key", F.col("payload"))
        .collect()
    )
    assert via_ds == via_pandas
    assert len(via_ds) == 10


# ---------------------------------------------------------------------------
# The one table-commit protocol under injected crashes: a fault right
# after each step of a write (version-directory write, commit_meta
# callable, pointer flip, prune), on each starting state (fresh path,
# pointer table, legacy flat table). Readers must see the complete old
# version or the complete new one, and the next write heals the debris.
# ---------------------------------------------------------------------------

_STATES = ("fresh", "pointer", "legacy")


class _Crash(Exception):
    """The injected fault."""


def _crash_after(monkeypatch, step: str) -> list:
    """Patch the primitive(s) behind ``step`` so the first call runs and
    then raises _Crash. Returns a list that is non-empty once the fault
    fired (a step may not occur at all, e.g. prune on a fresh path)."""
    import os
    import shutil

    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    targets = {
        # A DataFrame's data step is a Spark write, driver-held rows'
        # (``LocalRows``) one pyarrow file.
        "data": [(DataFrameWriter, "parquet"), (pq, "write_table")],
        "flip": [(os, "replace")],
        "prune": [(shutil, "rmtree"), (Path, "unlink")],
    }[step]
    fired: list = []
    for owner, name in targets:
        def wrapper(*a, _real=getattr(owner, name), **kw):
            out = _real(*a, **kw)
            if not fired:
                fired.append(step)
                raise _Crash(step)
            return out

        monkeypatch.setattr(owner, name, wrapper)
    return fired


def _visible(spark, path: str):
    """What readers see: None (no table), or (sorted keys, commit meta)."""
    from azure_sales_etl_pipeline_spark.catalog import table_exists
    from azure_sales_etl_pipeline_spark.operators.writer import read_commit_meta, read_table

    meta = read_commit_meta(path)
    if not table_exists(path):
        assert meta is None
        return None
    return sorted(r["k"] for r in read_table(spark, path).collect()), meta


@pytest.mark.parametrize("state", _STATES)
@pytest.mark.parametrize("step", ["data", "meta", "flip", "prune"])
def test_overwrite_table_survives_crash_at_every_step(spark, tmp_path, monkeypatch, step, state):
    import json

    from azure_sales_etl_pipeline_spark.operators.writer import overwrite_table

    path = str(tmp_path / "t")
    old = spark.range(3).withColumnRenamed("id", "k")
    new = spark.range(10, 15).withColumnRenamed("id", "k")
    if state == "pointer":
        overwrite_table(old, path, commit_meta={"v": "old"})
    elif state == "legacy":
        old.write.parquet(path)
        (Path(path) / "_commit.json").write_text(json.dumps({"v": "old"}))
    before = None if state == "fresh" else ([0, 1, 2], {"v": "old"})
    after = ([10, 11, 12, 13, 14], {"v": "new"})

    if step == "meta":
        def meta():
            raise _Crash("meta")
        fired = [step]
    else:
        fired = _crash_after(monkeypatch, step)
        meta = {"v": "new"}
    try:
        overwrite_table(new, path, commit_meta=meta)
    except _Crash:
        pass
    monkeypatch.undo()
    assert _visible(spark, path) in ((before, after) if fired else (after,))

    overwrite_table(new, path, commit_meta={"v": "new"})
    assert _visible(spark, path) == after
    names = sorted(c.name for c in Path(path).iterdir())
    assert names[0] == "_current_version.json" and len(names) == 2, names


@pytest.mark.parametrize("state", _STATES)
@pytest.mark.parametrize("step", ["data", "flip", "prune"])
def test_watermark_set_survives_crash_at_every_step(spark, tmp_path, monkeypatch, step, state):
    from azure_sales_etl_pipeline_spark.operators.watermark import (
        DEFAULT_WATERMARK,
        WatermarkStore,
    )

    store = WatermarkStore(spark, str(tmp_path / "wm"))
    old, new = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    if state == "pointer":
        store.set("t", old)
    elif state == "legacy":
        spark.createDataFrame([("t", old)], "table_name string, watermark timestamp").coalesce(
            1
        ).write.parquet(str(store._path("t")))
    before = DEFAULT_WATERMARK if state == "fresh" else old

    fired = _crash_after(monkeypatch, step)
    try:
        store.set("t", new)
    except _Crash:
        pass
    monkeypatch.undo()
    assert store.get("t") in ((before, new) if fired else (new,))
    store.set("t", new)
    assert store.get("t") == new


@pytest.mark.parametrize("state", _STATES)
@pytest.mark.parametrize("step", ["data", "flip", "prune"])
def test_run_log_append_survives_crash_at_every_step(spark, tmp_path, monkeypatch, step, state):
    """A run whose run-log append crashes after any step leaves all of
    its log rows visible or none; the next run takes an id no visible
    row holds, and no row is duplicated or torn."""
    from collections import Counter

    from azure_sales_etl_pipeline_spark.functions import local_df
    from azure_sales_etl_pipeline_spark.pipeline import (
        RUN_LOG_SCHEMA,
        MedallionPipeline,
        TableConfig,
    )

    clock = [dt.datetime(2024, 1, 1)]
    # "ghost" is never landed: its stage logs a row and writes nothing,
    # so the log append is the run's only write.
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"), [TableConfig("ghost", "id")],
                             clock=lambda: clock[0])
    landing = tmp_path / "landing"
    landing.mkdir()
    if state == "pointer":
        pipe.run(str(landing))
    elif state == "legacy":
        old = [(7, clock[0], stage, True, 0, None, None, None, None)
               for stage in ("__ingest__", "ghost")]
        local_df(spark, old, RUN_LOG_SCHEMA).coalesce(1).write.parquet(pipe.log_path)

    def runs():
        log = pipe.run_log().collect() if Path(pipe.log_path).exists() else []
        rows = Counter((r["run_id"], r["stage"]) for r in log)
        assert set(rows.values()) <= {1}, rows  # no duplicated row
        per_run = Counter(run_id for run_id, _ in rows)
        assert set(per_run.values()) <= {2}, per_run  # no torn run
        return sorted(per_run)

    before = runs()
    clock[0] = dt.datetime(2024, 1, 2)
    fired = _crash_after(monkeypatch, step)
    try:
        pipe.run(str(landing))
    except _Crash:
        pass
    monkeypatch.undo()
    crashed = runs()
    assert crashed == before or (crashed[:-1] == before and crashed[-1] > max(before, default=0))
    assert fired or step != "data"
    if not fired:
        assert len(crashed) == len(before) + 1
    clock[0] = dt.datetime(2024, 1, 3)
    pipe.run(str(landing))
    after = runs()
    assert after[:-1] == crashed and after[-1] > max(crashed, default=0)


@pytest.mark.parametrize("step", ["flip", "data"])
def test_evolving_append_never_shows_a_row_without_its_columns(spark, tmp_path, monkeypatch, step):
    """An append that adds a column commits the evolved schema before
    its files: a crash after either step shows the old rows (the new
    column null) or every row with its value, never a new row whose
    new column is hidden."""
    from azure_sales_etl_pipeline_spark.operators.writer import append_evolve, read_table

    path = str(tmp_path / "t")
    append_evolve(spark, spark.range(3).withColumnRenamed("id", "k"), path)
    batch = spark.createDataFrame([(10, "x"), (11, "y")], "k bigint, c string")
    fired = _crash_after(monkeypatch, step)
    with pytest.raises(_Crash):
        append_evolve(spark, batch, path)
    monkeypatch.undo()
    assert fired == [step]
    got = sorted(tuple(r) for r in read_table(spark, path).collect())
    old = [(0, None), (1, None), (2, None)]
    assert got in (old, old + [(10, "x"), (11, "y")])
    assert read_table(spark, path).columns == ["k", "c"]


def test_delta_table_refused_by_every_reader_and_writer(spark, tmp_path):
    """A Delta table written by another tool keeps tombstoned files
    beside its ``_delta_log``: the engine must neither read it as plain
    parquet nor rewrite it. The resolver refuses it for every entry
    point, before anything is written."""
    from azure_sales_etl_pipeline_spark.catalog import table_exists
    from azure_sales_etl_pipeline_spark.operators.maintenance import (
        compact_partitioned,
        compact_table,
        merge_aggregate,
    )
    from azure_sales_etl_pipeline_spark.operators.writer import (
        append_evolve,
        overwrite_table,
        read_commit_meta,
        read_table,
        table_schema,
        write_snapshot,
    )

    path = tmp_path / "delta_tbl"
    spark.range(3).write.parquet(str(path))
    (path / "_delta_log").mkdir()
    on_disk = sorted(c.name for c in path.iterdir())
    df = spark.range(1)
    p = str(path)
    calls = [
        lambda: table_exists(p),
        lambda: read_table(spark, p),
        lambda: table_schema(spark, p),
        lambda: read_commit_meta(p),
        lambda: overwrite_table(df, p),
        lambda: write_snapshot(df, p),
        lambda: append_evolve(spark, df, p),
        lambda: compact_table(spark, p),
        lambda: compact_partitioned(spark, p),
        lambda: merge_aggregate(spark, p, df, keys=["id"], sums=[]),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="Delta table"):
            call()
    assert sorted(c.name for c in path.iterdir()) == on_disk


def test_no_rmtree_then_move_swap_in_package():
    """The delete-then-move directory swap leaves no table at the path
    if the process dies between its two calls. Whole-table commits go
    through writer.write_snapshot's pointer flip instead, so no function
    in the package removes a tree and later moves one into place."""
    import ast

    import azure_sales_etl_pipeline_spark as pkg

    root = Path(pkg.__file__).parent
    offenders = []
    for f in sorted(root.rglob("*.py")):
        for fn in ast.walk(ast.parse(f.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            lines: dict[str, list[int]] = {"rmtree": [], "move": []}
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in lines
                ):
                    lines[node.func.attr].append(node.lineno)
            if lines["rmtree"] and lines["move"] and min(lines["rmtree"]) < max(lines["move"]):
                offenders.append(f"{f.relative_to(root)}::{fn.name}")
    assert offenders == []
