"""Observation must cost nothing: with the traced run's readers on
(job group, status-store reads, Catalyst phases, stream listener, layer
spans) every op fires exactly the Spark jobs it fires with them off.

    python3 -m pytest perfbench/tests -q

Starts a local Spark session; takes a few minutes.
"""

from __future__ import annotations

import shutil
import sys
from contextlib import nullcontext
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE), str(HERE.parent)]

import run  # noqa: E402

WORK = HERE.parent / ".perfbench_work" / "selftest"


@pytest.fixture(scope="module")
def ctx():
    shutil.rmtree(WORK, ignore_errors=True)
    run.set_environment(WORK)
    from azure_sales_etl_pipeline_spark.session import get_spark
    from workloads import Context

    spark = get_spark(app_name="perfbench-selftest", master="local[2]",
                      extra_conf=run.session_conf(WORK))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        yield Context(spark, WORK, seed=5)
    finally:
        run.stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)


class _NoTracer:
    op = None

    @staticmethod
    def span(name):
        return nullcontext()


def _jobs_per_op(ctx, workload, traced: bool) -> list[tuple[str, int]]:
    """Jobs per op of one pass, counted from the op's start until every
    read that follows it has returned."""
    import harness
    from observe import StreamListener, Tracer
    from workloads import OpObserver

    reader = ctx.reader
    counts, marks = [], []

    class Counting(OpObserver):
        def begin(self, op_id):
            marks.append(reader.job_id())
            return super().begin(op_id) if traced else None

        def end(self, state, sample, memo0, df=None):
            if traced:
                super().end(state, sample, memo0, df)
            counts.append((sample.op, reader.job_id() - marks.pop()))

    if not traced:
        workload.run_pass(0, Counting(ctx, _NoTracer(), None), 0)
        return counts
    tracer, listener = Tracer(reader, "azure_sales_etl_pipeline_spark"), StreamListener()
    ctx.spark.streams.addListener(listener)
    harness.install_tracing(tracer)
    try:
        workload.run_pass(0, Counting(ctx, tracer, listener), 0)
    finally:
        tracer.close()
        ctx.spark.streams.removeListener(listener)
    return counts


def test_readers_fire_no_jobs(ctx, monkeypatch):
    import workloads

    monkeypatch.setattr(workloads, "QUERY_SF", 0.001)
    qm = workloads.QueryMix(ctx)
    qm.prepare()
    cdc = workloads.MedallionCdc(ctx)
    cdc.prepare()
    for wl in (qm, cdc):
        off = _jobs_per_op(ctx, wl, traced=False)
        on = _jobs_per_op(ctx, wl, traced=True)
        assert off and on == off
    assert not ctx.failures
