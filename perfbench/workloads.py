"""The benchmark's workloads and the closed loop that times them.

A workload generates its inputs once, then runs whole passes back to
back: the next operation starts only after the previous one returned.
Its outputs are checked outside every timed region. Before every pass
each ``evict_*`` callable of the package is called, so every pass pays
for the memos it uses; forced GC runs between passes only.
"""

from __future__ import annotations

import gc
import importlib
import pkgutil
import shutil
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

import numpy as np

import datagen
from checks import QueryChecker, check_cdc_state
from observe import SparkReader, StreamListener, Tracer, dir_bytes, union_seconds

PACKAGE = "azure_sales_etl_pipeline_spark"

#: ``query_mix`` operations: two star-join marts over the catalog (no
#: memos, no writes), two curation ops that share the connected-components
#: memo, and a stateful stream fold.
QUERY_MIX = (
    "customer_behavior",
    "sql_nation_revenue",
    "dedup_clusters",
    "cluster_representatives",
    "stream_tumbling_counts",
)

#: Scale factor of the generated query inputs (sf 1 = TPC-H SF1).
QUERY_SF = 0.01
#: Scale factor of the CDC tables: customers and orders at sf 0.01.
CDC_SF = 0.01


class Memos:
    """The package's shared memos, found by name: every module-level
    ``evict_*`` callable, and the dicts each one clears."""

    def __init__(self):
        pkg = importlib.import_module(PACKAGE)
        self.evictors = []
        self.stores: dict[str, dict] = {}
        for info in pkgutil.walk_packages(pkg.__path__, f"{PACKAGE}."):
            mod = importlib.import_module(info.name)
            for name, obj in sorted(vars(mod).items()):
                if not (name.startswith("evict_") and callable(obj)
                        and getattr(obj, "__module__", None) == mod.__name__):
                    continue
                self.evictors.append(obj)
                for g in obj.__code__.co_names:
                    if isinstance(obj.__globals__.get(g), dict):
                        self.stores[f"{mod.__name__}.{g}"] = obj.__globals__[g]

    def evict_all(self) -> None:
        for evict in self.evictors:
            evict()

    def keys(self) -> set[tuple[str, object]]:
        return {(name, k) for name, store in self.stores.items() for k in store}


@dataclass
class Sample:
    op: str
    seconds: float
    build_s: float = 0.0
    exec_s: float = 0.0


@dataclass
class PassResult:
    seconds: float
    samples: list[Sample]


class Context:
    """What every workload shares: the session, a scratch dir inside
    the run's work dir, the seed, and the attempt/failure tally."""

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.reader = SparkReader(spark)
        self.memos = Memos()
        self.attempted = 0
        self.failures: list[str] = []
        #: pass number -> memo store -> the op that filled it
        self.payers: dict[int, dict[str, str]] = {}

    def between_passes(self) -> None:
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()


class OpObserver:
    """Per-op driver-side reads for a traced pass: the job-id range,
    status-store totals, Catalyst phases, stream triggers and memo
    fills. Sums them into the pass's layer totals."""

    def __init__(self, ctx: Context, tracer: Tracer, listener: StreamListener):
        self.ctx = ctx
        self.tracer = tracer
        self.listener = listener
        self.totals: dict[str, float] = {}

    def add(self, key: str, value: float) -> None:
        self.totals[key] = self.totals.get(key, 0.0) + value

    def begin(self, op_id: str):
        t = time.perf_counter()
        self.tracer.op = op_id
        self.ctx.spark.sparkContext.setJobGroup(op_id, op_id)
        state = self.ctx.reader.job_id(), time.time()
        self.tracer.own_s += time.perf_counter() - t
        return state

    def end(self, state, sample: Sample, memo0: set, df=None) -> None:
        t = time.perf_counter()
        job0, wall0 = state
        wall1 = time.time()
        reader = self.ctx.reader
        reader.drain()
        spark_totals = reader.jobs(job0, reader.job_id())
        intervals = spark_totals.pop("job_intervals")
        for k, v in spark_totals.items():
            self.add(f"spark.{k}", v)
        busy = union_seconds(intervals)
        self.add("spark.job_busy_s", busy)
        self.add("spark.driver_only_s", max(0.0, sample.seconds - busy))
        if df is not None:
            for k, v in reader.catalyst(df).items():
                self.add(f"catalyst.{k}_s", v)
        stream = self.listener.between(wall0, wall1)
        trigger_s = stream.pop("trigger_s")
        for k, v in stream.items():
            self.add(f"streaming.{k}", v)
        if stream["triggers"]:
            self.add("streaming.startstop_s", max(0.0, sample.build_s - trigger_s))
        filled = self.ctx.memos.keys() - memo0
        self.add("memo.fills", len(filled))
        if filled:
            self.add("memo.payer_s", sample.seconds)
        self.tracer.op = None
        self.ctx.spark.sparkContext._jsc.clearJobGroup()
        self.tracer.own_s += time.perf_counter() - t


class QueryMix:
    """Query functions of the package's registry over seeded tables."""

    name = "query_mix"

    def __init__(self, ctx: Context):
        from azure_sales_etl_pipeline_spark.plans import registry

        self.ctx = ctx
        queries, oracles = registry()
        missing = [n for n in QUERY_MIX if n not in oracles]
        if missing:
            raise ValueError(f"ops without a DuckDB oracle: {missing}")
        self.ops = {n: queries[n] for n in QUERY_MIX}
        self.oracles = {n: oracles[n] for n in QUERY_MIX}
        self.data_dir = ctx.work / "tables"

    def prepare(self) -> None:
        datagen.write_tables(self.data_dir, self.ctx.seed, QUERY_SF)

    #: A round is the seeded op order followed by the same order reversed,
    #: so that each op sharing a memo pays for it once per round.
    passes_per_round = 2

    def _order(self, order: int) -> list[str]:
        """Op order ``order``: round ``order // 2`` of the seeded
        permutation, reversed when ``order`` is odd."""
        rng = np.random.default_rng([self.ctx.seed, 3, order // 2 + 1])
        names = list(self.ops)
        perm = [names[i] for i in rng.permutation(len(names))]
        return perm[::-1] if order % 2 else perm

    def check(self) -> None:
        """Run every op once, untimed and in one fixed order, and compare
        its rows with the DuckDB oracle. Doubles as the JIT warm-up, so
        every run enters its timed passes in the same state whatever its
        seed."""
        ctx = self.ctx
        ctx.memos.evict_all()
        with QueryChecker(self.data_dir) as checker:
            for name in self.ops:
                ctx.attempted += 1
                try:
                    df = self.ops[name](ctx.spark, str(self.data_dir))
                    problem = checker.compare(name, df, self.oracles[name])
                except Exception:  # noqa: BLE001 - a failing op is counted, the run goes on
                    problem = traceback.format_exc(limit=2)
                if problem:
                    ctx.failures.append(f"{name}: {problem}")
                ctx.spark.catalog.clearCache()
        ctx.between_passes()

    def run_pass(self, pass_no: int, observer: OpObserver | None, order: int) -> PassResult:
        """Every op once, in the order numbered ``order``."""
        ctx = self.ctx
        ctx.memos.evict_all()
        samples = []
        t_pass = time.perf_counter()
        span = observer.tracer.span if observer else lambda name: nullcontext()
        payers = ctx.payers.setdefault(pass_no, {})
        for name in self._order(order):
            ctx.attempted += 1
            state = observer.begin(f"p{pass_no}:{name}") if observer else None
            memo0 = ctx.memos.keys()
            try:
                t0 = time.perf_counter()
                with span("plans.build"):
                    df = self.ops[name](ctx.spark, str(self.data_dir))
                t1 = time.perf_counter()
                with span("plans.exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception:  # noqa: BLE001 - a failing op is counted, the run goes on
                ctx.failures.append(f"{name}: {traceback.format_exc(limit=2)}")
                continue
            sample = Sample(name, t2 - t0, t1 - t0, t2 - t1)
            samples.append(sample)
            if observer:
                observer.end(state, sample, memo0, df)
                observer.add("plans.build_s", sample.build_s)
                observer.add("plans.exec_s", sample.exec_s)
            for store, _ in ctx.memos.keys() - memo0:
                payers.setdefault(store.rsplit(".", 1)[1], name)
            ctx.spark.catalog.clearCache()
        return PassResult(time.perf_counter() - t_pass, samples)


# -- medallion_cdc ------------------------------------------------------------


def customers_by_segment(spark, catalog):
    """Gold mart: current customers per market segment."""
    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.operators.writer import read_table

    cur = read_table(spark, catalog.path("silver", "customers")).where(F.col("is_current"))
    return cur.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_customers"))


def revenue_by_segment_status(spark, catalog):
    """Gold mart: current orders joined to current customers, orders
    and revenue per (market segment, order status)."""
    from pyspark.sql import functions as F

    from azure_sales_etl_pipeline_spark.operators.writer import read_table

    cust = (read_table(spark, catalog.path("silver", "customers"))
            .where(F.col("is_current")).select("c_custkey", "c_mktsegment"))
    orders = read_table(spark, catalog.path("silver", "orders")).where(F.col("is_current"))
    return (orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("revenue")))


GOLD_MARTS = {
    "customers_by_segment": customers_by_segment,
    "revenue_by_segment_status": revenue_by_segment_status,
}


class MedallionCdc:
    """``MedallionPipeline.run`` over seeded CDC batches of customers and
    orders: one initial load, then incremental batches (one of them a
    replay of the batch before it). Each pass builds a fresh lake; each
    run sees only its own batch in its landing root."""

    name = "medallion_cdc"
    passes_per_round = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.scenario = datagen.CdcScenario(ctx.seed, CDC_SF)
        self.roots: list[Path] = []
        self.landed_bytes = 0
        self.lake_ratio = float("nan")

    def prepare(self) -> None:
        landing = self.ctx.work / "landing"
        self.roots = self.scenario.land(landing)
        self.landed_bytes = dir_bytes(landing)

    def check(self) -> None:
        """Nothing to do: every pass is checked after its last run,
        untimed."""


    def run_pass(self, pass_no: int, observer: OpObserver | None, order: int = 0) -> PassResult:
        """The initial load and every batch, on a fresh lake (``order``
        is unused: the runs of a CDC pass have one order)."""
        from azure_sales_etl_pipeline_spark.pipeline import MedallionPipeline, TableConfig

        ctx, sc = self.ctx, self.scenario
        ctx.memos.evict_all()
        lake = ctx.work / f"lake_{pass_no}"
        clock = [sc.clock(0)]
        pipe = MedallionPipeline(
            ctx.spark, str(lake),
            [TableConfig(t, key) for t, (key, _) in datagen.CDC_TABLES.items()],
            clock=lambda: clock[0],
            gold_marts=GOLD_MARTS,
        )
        samples = []
        t_pass = time.perf_counter()
        for i, root in enumerate(self.roots):
            clock[0] = sc.clock(i)
            ctx.attempted += 1
            state = observer.begin(f"p{pass_no}:run{i}") if observer else None
            memo0 = ctx.memos.keys()
            t0 = time.perf_counter()
            try:
                results = pipe.run(str(root))
            except Exception:  # noqa: BLE001 - a failing run is counted, the pass goes on
                ctx.failures.append(f"run {i}: {traceback.format_exc(limit=2)}")
                continue
            sample = Sample(f"run{i}", time.perf_counter() - t0)
            samples.append(sample)
            if observer:
                observer.end(state, sample, memo0)
            problem = self._check_run(i, results)
            if problem:
                ctx.failures.append(f"run {i}: {problem}")
        seconds = time.perf_counter() - t_pass
        ctx.attempted += 1
        problem = check_cdc_state(ctx.spark, pipe.catalog, sc)
        if problem:
            ctx.failures.append(f"final state: {problem}")
        self.lake_ratio = dir_bytes(lake) / self.landed_bytes
        shutil.rmtree(lake, ignore_errors=True)
        return PassResult(seconds, samples)

    def _check_run(self, i: int, results) -> str | None:
        bad = [r.table for r in results if not r.ok]
        if bad:
            return f"stages failed: {bad}"
        stats = {r.table: r.stats for r in results}
        for table, want in self.scenario.expected_stats[i].items():
            got = {k: stats[table].get(k) for k in want}
            if got != want:
                return f"{table} SCD2 counts {got}, expected {want}"
        return None


WORKLOADS = {"medallion_cdc": MedallionCdc, "query_mix": QueryMix}
