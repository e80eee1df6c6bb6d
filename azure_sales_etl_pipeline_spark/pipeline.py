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
layer containers), so any stage can rerun independently; watermarks make
reruns incremental and SCD2's no-change detection makes them idempotent.
"""

from __future__ import annotations

import datetime as dt
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession

from pyspark.sql import functions as F

from .catalog import LayerCatalog, table_exists
from .functions import concurrent_map, local_df, utcnow_naive
from .observe import described
from .operators.scd2 import SCD2Table
from .operators.watermark import WatermarkStore
from .operators.writer import append_evolve, overwrite_table, read_table
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
        # builder over the silver layer, overwritten per run (S7 — the
        # reference full-refreshes every gold mart).
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
        if batch.isEmpty():
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
            self.catalog.path("silver", cfg.name),
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
        # observed during the upsert's full scan of the batch.
        wm = wm_obs.get["wm"]
        if wm is not None:
            self.watermarks.set(cfg.name, wm)
        return stats

    def silver_to_gold(self, name: str) -> dict[str, int]:
        """Materialize one gold mart: full refresh by ``overwrite_table``,
        the reference's mode for every mart
        (3_Silver_to_Gold.py:60,66,72,92,112,133 / S7)."""
        df = self.gold_marts[name](self.spark, self.catalog)
        path = self.catalog.path("gold", name)
        # The row count rides the mart write via observe() instead of a
        # count() re-read of the just-written parquet — one job, same
        # number (every written row passes the CollectMetrics node).
        obs = Observation()
        overwrite_table(df.observe(obs, F.count(F.lit(1)).alias("n")), path)
        return {"rows": int(obs.get["n"])}

    # -- run log -------------------------------------------------------------

    def run_log(self) -> DataFrame:
        """The persisted run history (empty-schema frame before any run)."""
        if not table_exists(self.log_path):
            return local_df(self.spark, [], RUN_LOG_SCHEMA)
        return read_table(self.spark, self.log_path)

    def _next_run_id(self) -> int:
        if not table_exists(self.log_path):
            return 1
        prev = read_table(self.spark, self.log_path).agg(F.max("run_id")).first()[0]
        return int(prev or 0) + 1

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
        # One tiny control-plane file per run, appended — the log IS a
        # queryable engine table (vs the reference's described-only one).
        log = local_df(self.spark, rows, RUN_LOG_SCHEMA).coalesce(1)
        append_evolve(self.spark, log, self.log_path)

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
