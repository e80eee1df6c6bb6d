"""Medallion orchestrator — the ADF pipeline
(/root/reference/adf/pipeline.json) as a config-driven Python driver.

The reference's control flow, re-expressed:
- Lookup table list (S13, pipeline.json:63-87)   → TableConfig list
- ForEach with per-table watermark window (T1)   → concurrent_map over
                                                   the tables
- Landing→Bronze→Silver stage chain (:277-362)   → ingest → scd2
- per-table error isolation (C3; notebooks catch
  and continue, 2_Bronze_to_Silver.py:152-158)   → try/except per table
- New-customer Lookup → Web POST (:364-441)      → on_insert callback,
  pluggable (no HTTP in the engine; tests inject a recorder)

ADF runs ForEach items in parallel unless ``isSequential`` is set; so
does the engine. Each stage — ingest, bronze→silver SCD2, silver→gold —
maps its independent units (tables, marts) through
``functions.concurrent_map``, an order-preserving thread map: the pass
is driver-bound, so while one unit's driver plans, another's jobs keep
the executors busy. A stage starts after every unit of the one before
it has returned; results and run-log rows keep config order. Each unit
writes only its own paths (``bronze/<t>``, ``silver/<t>``,
``state/watermarks/<t>.wm``, ``gold/<mart>``), and its jobs carry its
run-log stage name as their description (``observe.described``).

Stages communicate only through tables on disk (same as the reference's
layer containers), so any stage can rerun independently, and watermarks
make reruns incremental. Each gold mart is refreshed when its inputs
changed (S7 refreshes every mart on every run; the result is the same):
a mart whose plan and input files match the fingerprint in its commit
meta is left alone. What a rerun leaves unchanged, today:
- bronze→silver over a window silver already holds (a crash between the
  silver commit and the watermark advance): SCD2 classifies every row NO
  CHANGE and writes nothing;
- silver→gold over unchanged silver: no mart is rewritten;
- the run log: an append that crashed shows all of the run's rows or
  none, and the next run takes an id no visible row holds.
Not covered (ROADMAP O): ingest appends every landing file it finds on
every run, so a rerun over the same landing root lands the batch again;
and a window holding two rows of one key makes both current versions.

Past the first load's probes (CSV schema inference, the empty-window
check), every Spark job of a run moves data: watermarks and the run log
commit from the driver (``writer``'s ``LocalRows`` data step), the next
run id comes from the log's parquet footers, the landing probes read
files on the driver, and an idle table (bronze holds the files its
watermark was advanced over) and a mart left alone fire nothing.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path
from urllib.parse import urlparse
from urllib.request import url2pathname

from pyspark.sql import DataFrame, Observation, SparkSession

from pyspark.sql import functions as F

from .catalog import LayerCatalog, table_exists
from .functions import LocalRows, concurrent_map, local_df, utcnow_naive
from .observe import described
from .operators.scd2 import SCD2Table
from .operators.watermark import WatermarkStore
from .operators.writer import (
    append_evolve,
    column_max,
    overwrite_table,
    read_commit_meta,
    read_table,
)
from .sources.ingest import CsvIngestor

#: Persisted run-log row shape (the reference DESCRIBES a logging table,
#: README.MD:230-233, but never implements it — this closes that gap).
#: One row per stage per run; count columns are NULL where a stage has
#: no such notion (ingest / gold rows use n_insert as "rows written").
RUN_LOG_SCHEMA = (
    "run_id bigint, run_at timestamp, stage string, ok boolean, "
    "n_insert bigint, n_update bigint, n_no_change bigint, n_deleted bigint, "
    "error string"
)


@dataclass
class TableConfig:
    """One row of the reference's control table (dbo.adf_watermark +
    the Silver metadata dict, 2_Bronze_to_Silver.py:16-32)."""

    name: str
    business_key: str
    ts_col: str = "ingestion_timestamp"


@dataclass
class StageResult:
    table: str
    ok: bool
    stats: dict = field(default_factory=dict)
    error: str | None = None


def _input_fingerprint(df: DataFrame) -> str | None:
    """A digest of what ``df`` computes and reads, or None when that
    cannot tell whether its result changed. It covers the optimized
    plan's text, expression ids (``#<n>``) stripped, and every file the
    plan's relations list (``df.inputFiles()`` plus the files of
    subqueries, ``_stamped``). None unless the analyzed plan and its
    subqueries are deterministic (``rand()`` is not), call no
    user-defined function (a Python or Scala UDF, ``mapInPandas`` and
    ``applyInPandas`` included: the plan names the function but does
    not hold its code, so an edited body would print the same plan),
    and every leaf is a file relation (a ``local_df`` or ``rounds.cut``
    leaf is held in memory). ``current_timestamp()`` is deterministic
    in the analyzed plan; the optimizer folds it to a literal, so it
    changes the plan text on every call. Fires no job."""
    analyzed = df._jdf.queryExecution().analyzed()
    patterns = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
    udfs = [patterns.withName(n) for n in ("PYTHON_UDF", "SCALA_UDF")]
    files = set()
    for plan in [analyzed, *_seq(analyzed.subqueriesAll())]:
        if not plan.deterministic() or any(plan.containsPattern(u) for u in udfs):
            return None
        for leaf in _seq(plan.collectLeaves()):
            if (
                leaf.getClass().getSimpleName() != "LogicalRelation"
                or leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"
            ):
                return None
            files.update(leaf.relation().inputFiles())
    text = df._jdf.queryExecution().optimizedPlan().treeString(False, False, 2**31 - 1, False, False)
    return _digest([re.sub(r"#\d+", "", text), *_stamped(files)])


def _stamped(files) -> list[str]:
    """``files`` (URIs, as Spark lists them), sorted, each local file
    with its size and mtime. Spark percent-encodes the URIs (a space
    reads ``%20``), so a local one is decoded before its stat."""
    out = []
    for f in sorted(files):
        uri = urlparse(f)
        if uri.scheme == "file":
            st = os.stat(url2pathname(uri.path))
            f = f"{f} {st.st_size} {st.st_mtime_ns}"
        out.append(f)
    return out


def _digest(parts: list[str]) -> str:
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def _seq(seq) -> list:
    """A Scala ``Seq`` as a Python list of its JVM objects."""
    return [seq.apply(i) for i in range(seq.size())]


class MedallionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        tables: list[TableConfig],
        clock: Callable[[], dt.datetime] | None = None,
        on_insert: dict[str, Callable[[DataFrame], None]] | None = None,
        gold_marts: dict[str, Callable[[SparkSession, LayerCatalog], DataFrame]] | None = None,
        retry: int = 0,
        retry_wait: float = 30.0,
        sleep: Callable[[float], None] | None = None,
    ):
        self.spark = spark
        self.catalog = LayerCatalog(root)
        self.tables = tables
        self.clock = clock or utcnow_naive
        self.on_insert = on_insert or {}
        # Silver→Gold stage (3_Silver_to_Gold.py): each mart is a
        # builder over the silver layer, overwritten on every run whose
        # inputs changed (S7 — the reference full-refreshes every mart).
        self.gold_marts = gold_marts or {}
        self.watermarks = WatermarkStore(spark, self.catalog.path("state", "watermarks"))
        self.ingestor = CsvIngestor(spark, str(self.catalog.layer_root("bronze")), clock=self.clock)
        self.log_path = self.catalog.path("state", "run_log")
        # ADF activity policy parity (adf/pipeline.json:13-14): retry a
        # failed stage `retry` times, `retry_wait` seconds apart. The
        # reference deploys retry=0/30s; sleep is injectable for tests.
        self.retry = retry
        self.retry_wait = retry_wait
        self.sleep = sleep or __import__("time").sleep

    # -- stages -------------------------------------------------------------

    def landing_to_bronze(self, landing_root: str) -> dict[str, int | None]:
        return self.ingestor.run(landing_root)

    def bronze_to_silver(self, cfg: TableConfig) -> dict[str, int]:
        """Watermark-windowed incremental SCD2 (2_Bronze_to_Silver.py:35-158).

        Commit order is the reference's at-least-once contract: the
        watermark advances only after the upsert succeeds; a crash
        between them replays the window and SCD2 classifies the replayed
        rows NO CHANGE."""
        bronze_path = self.catalog.path("bronze", cfg.name)
        if not table_exists(bronze_path):
            return {"skipped": 1}
        bronze = read_table(self.spark, bronze_path)
        batch = self.watermarks.cut(bronze, cfg.ts_col, cfg.name)
        silver_path = self.catalog.path("silver", cfg.name)
        # The watermark's commit records the bronze files it was advanced
        # over; every row in them is at or below it. So while bronze
        # holds the same files the window is empty, decided on the
        # driver: an idle table fires no job. The first load keeps its
        # probe, which saves committing an empty silver table. Over
        # changed bronze the window is cut without a probe: an empty one
        # (rows only at or below the watermark) runs the upsert, whose
        # cut counts zero of every action, and nothing is written.
        inputs = _digest(_stamped(bronze.inputFiles()))
        if self.watermarks.inputs(cfg.name) == inputs or (
            not table_exists(silver_path) and batch.isEmpty()
        ):
            return {"insert": 0, "update": 0, "no_change": 0}
        # The new watermark (max ts of the batch) rides the upsert's own
        # first full pass over the batch via observe() instead of a
        # separate agg job that re-scans bronze. The isEmpty() probe
        # above MUST stay on the un-observed frame: take(1) would fire
        # the observation over a partial scan and pin a wrong max
        # (Observation keeps its first action's result).
        wm_obs = Observation()
        batch = batch.observe(wm_obs, F.max(F.col(cfg.ts_col)).alias("wm"))
        dim = SCD2Table(
            self.spark,
            silver_path,
            cfg.business_key,
            # Audit/engine columns never participate in change detection.
            tracked_cols=[
                c
                for c in batch.columns
                if c not in (cfg.business_key, cfg.ts_col, "source_file")
            ],
            clock=self.clock,
            on_insert=self.on_insert.get(cfg.name),
        )
        stats = dim.upsert(batch)
        # Commit order preserved: the watermark advances only after the
        # upsert returned (at-least-once contract); the value itself was
        # observed during the upsert's full scan of the batch. Every
        # batch row is classified INSERT, UPDATE or NO CHANGE, so zero of
        # each means an empty window: the watermark stays, and its
        # observation is not read (AQE drops an empty join side's
        # metrics node, leaving the observation without a value).
        if stats["insert"] or stats["update"] or stats["no_change"]:
            self.watermarks.set(cfg.name, wm_obs.get["wm"], inputs=inputs)
        return stats

    def silver_to_gold(self, name: str) -> dict[str, int]:
        """Materialize one gold mart: full refresh by ``overwrite_table``,
        the reference's mode for every mart
        (3_Silver_to_Gold.py:60,66,72,92,112,133 / S7), when its inputs
        changed. The mart's commit meta records ``_input_fingerprint`` of
        the frame it wrote; a mart whose frame has the same fingerprint
        now is left alone (no job) and reports the rows it recorded —
        the same table and the same run-log row a refresh would give."""
        df = self.gold_marts[name](self.spark, self.catalog)
        path = self.catalog.path("gold", name)
        inputs = _input_fingerprint(df)
        meta = read_commit_meta(path)
        if inputs is not None and meta and meta.get("inputs") == inputs:
            return {"rows": meta["rows"]}
        # The row count rides the mart write via observe() instead of a
        # count() re-read of the just-written parquet — one job, same
        # number (every written row passes the CollectMetrics node).
        obs = Observation()
        overwrite_table(
            df.observe(obs, F.count(F.lit(1)).alias("n")),
            path,
            commit_meta=lambda: {"rows": int(obs.get["n"]), "inputs": inputs},
        )
        return {"rows": int(obs.get["n"])}

    # -- run log -------------------------------------------------------------

    def run_log(self) -> DataFrame:
        """The persisted run history (empty-schema frame before any run)."""
        if not table_exists(self.log_path):
            return local_df(self.spark, [], RUN_LOG_SCHEMA)
        return read_table(self.spark, self.log_path)

    def _next_run_id(self) -> int:
        """One past the largest run id of the visible log rows, read from
        the log files' footers (no job). An append shows all of a run's
        rows or none, so even after a crash no visible id is reused."""
        return int(column_max(self.log_path, "run_id") or 0) + 1

    def _persist_log(self, run_id: int, run_at: dt.datetime, results: list[StageResult]) -> None:
        rows = []
        for r in results:
            if r.table == "__ingest__":
                ingested = sum(v for v in r.stats.get("rows", {}).values() if v is not None)
                rows.append((run_id, run_at, r.table, r.ok, ingested, None, None, None, r.error))
            else:
                s = r.stats
                rows.append(
                    (
                        run_id,
                        run_at,
                        r.table,
                        r.ok,
                        s.get("insert", s.get("rows")),
                        s.get("update"),
                        s.get("no_change"),
                        s.get("deleted"),
                        r.error,
                    )
                )
        # One tiny control-plane file per run, appended from the driver
        # (no job) — the log IS a queryable engine table (vs the
        # reference's described-only one).
        append_evolve(self.spark, LocalRows(rows, RUN_LOG_SCHEMA), self.log_path)

    # -- driver -------------------------------------------------------------

    def _attempt(self, stage: str, fn: Callable[[], dict]) -> StageResult:
        """One stage with the retry policy: up to 1 + self.retry
        attempts, self.retry_wait seconds apart (the ADF activity
        policy, adf/pipeline.json:13-14), then per-stage isolation —
        the failure is recorded, the run continues (C3). The stage's
        jobs are described by its name."""
        with described(self.spark, stage):
            for attempt in range(1 + self.retry):
                try:
                    stats = fn()
                    if attempt:
                        stats = {**stats, "attempts": attempt + 1}
                    return StageResult(stage, True, stats)
                except Exception:  # noqa: BLE001 — per-stage isolation (C3)
                    err = traceback.format_exc(limit=3)
                    if attempt < self.retry:
                        self.sleep(self.retry_wait)
        return StageResult(stage, False, error=err)

    def run(self, landing_root: str) -> list[StageResult]:
        """Full run: ingest all landed tables, SCD2 each configured
        table, then refresh gold marts — each stage's units concurrently,
        retry policy + per-stage isolation throughout (C3: one bad
        table/mart never blocks the rest), and the outcome of every
        stage appended to the persisted run log once all have
        returned."""
        run_id = self._next_run_id()
        run_at = self.clock()
        ingest_stats = self.landing_to_bronze(landing_root)
        results = [StageResult("__ingest__", True, {"rows": ingest_stats})]
        results += concurrent_map(
            lambda cfg: self._attempt(cfg.name, lambda: self.bronze_to_silver(cfg)),
            self.tables,
        )
        results += concurrent_map(
            lambda name: self._attempt(f"gold:{name}", lambda: self.silver_to_gold(name)),
            self.gold_marts,
        )
        self._persist_log(run_id, run_at, results)
        return results
