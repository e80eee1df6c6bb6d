"""One benchmark run: prepare and check the workload, time whole rounds
of passes for ``--seconds``, and turn them into the result object."""

from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

from observe import StreamListener, Tracer, dir_bytes, file_sizes
from workloads import PACKAGE, WORKLOADS, Context, OpObserver, PassResult

#: Per-layer metrics, in the order BENCHMARK.json lists them.
LAYER_METRICS = (
    "session.start_s", "session.warmup_s", "session.jvm_peak_rss_mb",
    "ingest.busy_s", "ingest.rows", "ingest.jobs",
    "watermark.busy_s", "watermark.calls",
    "scd2.busy_s", "scd2.jobs", "scd2.rows_in", "scd2.rows_changed", "scd2.useful_ratio",
    "writer.busy_s", "writer.calls", "writer.bytes_written",
    "pipeline.gold_busy_s", "pipeline.self_s", "pipeline.initial_run_s",
    "pipeline.rows_per_s", "pipeline.lake_bytes_per_landed_byte",
    "catalog.load_calls", "catalog.load_busy_s",
    "plans.build_s", "plans.build_jobs", "plans.exec_s", "memo.fills", "memo.payer_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_busy_s", "spark.driver_only_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.spill_mb",
    "streaming.triggers", "streaming.add_batch_s", "streaming.query_planning_s",
    "streaming.wal_commit_s", "streaming.latest_offset_s", "streaming.state_rows",
    "streaming.startstop_s",
    "trace.pass_s", "trace.overhead_s", "trace.spans",
)


def unit(metric: str) -> str:
    if metric == "pipeline.rows_per_s":
        return "1/s"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric == "writer.bytes_written":
        return "B"
    if metric in ("scd2.useful_ratio", "pipeline.lake_bytes_per_landed_byte"):
        return "ratio"
    return "count"


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def install_tracing(tracer: Tracer) -> None:
    """Spans around the public entry points of each layer. ``Memos``
    has already imported every module of the package, so each module
    that imported a wrapped function by name gets the wrapper too."""
    from azure_sales_etl_pipeline_spark import catalog, pipeline
    from azure_sales_etl_pipeline_spark.operators import scd2, watermark, writer
    from azure_sales_etl_pipeline_spark.sources import ingest


    def ingested(args, kwargs, result, state):
        return {"rows": sum(v for v in result.values() if v)}

    def upserted(args, kwargs, result, state):
        n_in = sum(result.get(k, 0) for k in ("insert", "update", "no_change"))
        return {"rows_in": n_in, "rows_changed": result.get("insert", 0) + result.get("update", 0)}

    # Bytes a call wrote: overwrite_table replaces the whole table, so
    # all of the new table directory; append_evolve adds files, so the
    # files that were not there before the call.
    def overwritten(args, kwargs, result, state):
        return {"bytes_written": dir_bytes(kwargs["path"] if "path" in kwargs else args[1])}

    def files_before(args, kwargs):
        path = kwargs["path"] if "path" in kwargs else args[2]
        return path, set(file_sizes(path))

    def appended(args, kwargs, result, state):
        path, before = state
        return {"bytes_written": sum(n for f, n in file_sizes(path).items() if f not in before)}

    tracer.patch(ingest.CsvIngestor, "run", "ingest", ingested)
    tracer.patch(watermark.WatermarkStore, "cut", "watermark:cut")
    tracer.patch(watermark.WatermarkStore, "set", "watermark:set")
    tracer.patch(scd2.SCD2Table, "upsert", "scd2", upserted)
    tracer.patch(writer, "overwrite_table", "writer:overwrite_table", overwritten)
    tracer.patch(writer, "append_evolve", "writer:append_evolve", appended,
                 before=files_before)
    tracer.patch(writer, "read_table", "writer:read_table")
    tracer.patch(pipeline.MedallionPipeline, "silver_to_gold", "pipeline.gold")
    tracer.patch(pipeline.MedallionPipeline, "run", "pipeline.run")
    tracer.patch(catalog, "load_table", "catalog")


def pass_layers(tracer: Tracer, observer: OpObserver, pass_no: int) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    spans = [s for s in tracer.spans if s.op and s.op.startswith(f"p{pass_no}:")]
    out = dict(observer.totals)
    ingest = tracer.layer("ingest", spans)
    out.update({"ingest.busy_s": ingest["busy_s"], "ingest.rows": ingest.get("rows", 0.0),
                "ingest.jobs": ingest.get("jobs", 0.0)})
    wm = tracer.layer("watermark", spans)
    out.update({"watermark.busy_s": wm["busy_s"], "watermark.calls": wm["calls"]})
    scd = tracer.layer("scd2", spans)
    rows_in, changed = scd.get("rows_in", 0.0), scd.get("rows_changed", 0.0)
    out.update({"scd2.busy_s": scd["busy_s"], "scd2.jobs": scd.get("jobs", 0.0),
                "scd2.rows_in": rows_in, "scd2.rows_changed": changed,
                "scd2.useful_ratio": changed / rows_in if rows_in else 0.0})
    wr = tracer.layer("writer", spans)
    out.update({"writer.busy_s": wr["busy_s"], "writer.calls": wr["calls"],
                "writer.bytes_written": wr.get("bytes_written", 0.0)})
    out["pipeline.gold_busy_s"] = tracer.layer("pipeline.gold", spans)["busy_s"]
    out["pipeline.self_s"] = tracer.self_seconds("pipeline.run", spans)
    cat = tracer.layer("catalog", spans)
    out.update({"catalog.load_calls": cat["calls"], "catalog.load_busy_s": cat["busy_s"]})
    out["plans.build_jobs"] = tracer.layer("plans.build", spans).get("jobs", 0.0)
    out["trace.spans"] = float(len(spans))
    out["trace.overhead_s"] = tracer.own_s
    return out


def run(spark, work: Path, args, start_s: float, warmup_s: float) -> dict:
    phases = {}
    t_phase = time.perf_counter()
    ctx = Context(spark, work, args.seed)
    workload = WORKLOADS[args.workload](ctx)
    workload.prepare()
    workload.check()
    phases["prepare_s"] = time.perf_counter() - t_phase
    tracer = listener = None
    if args.trace:
        tracer = Tracer(ctx.reader, PACKAGE)
        listener = StreamListener()
        spark.streams.addListener(listener)

    passes: list[PassResult] = []
    layers: list[dict[str, float]] = []
    cdc: list[dict[str, float]] = []

    def one_pass(traced: bool, order: int) -> None:
        n = len(passes)
        observer = OpObserver(ctx, tracer, listener) if traced else None
        if observer:
            tracer.own_s = 0.0
            install_tracing(tracer)
        try:
            result = workload.run_pass(n, observer, order)
        finally:
            if observer:
                tracer.close()
        if observer:
            layers.append(pass_layers(tracer, observer, n))
        if workload.name == "medallion_cdc" and result.samples:
            cdc.append({
                "pipeline.initial_run_s": result.samples[0].seconds,
                "pipeline.rows_per_s": workload.scenario.landed_rows()
                / sum(s.seconds for s in result.samples),
                "pipeline.lake_bytes_per_landed_byte": workload.lake_ratio,
            })
        passes.append(result)
        ctx.between_passes()

    # Whole rounds, as many as fit in --seconds, at least one: another
    # round starts only if it is due to end in time. A traced run times
    # the same rounds with tracing on, so its pass_s minus an untraced
    # run's is the tracing overhead.
    t0 = time.perf_counter()
    while True:
        t_round = time.perf_counter()
        for _ in range(workload.passes_per_round):
            one_pass(args.trace == 1, len(passes))
        now = time.perf_counter()
        if now - t0 + (now - t_round) > args.seconds:
            break
    phases["timed_s"] = time.perf_counter() - t0

    failed = len(ctx.failures)
    if args.trace:
        spark.streams.removeListener(listener)
        metrics = {m: statistics.fmean(layer.get(m, 0.0) for layer in layers)
                   for m in LAYER_METRICS}
        for m in ("pipeline.initial_run_s", "pipeline.rows_per_s",
                  "pipeline.lake_bytes_per_landed_byte"):
            metrics[m] = _median(c[m] for c in cdc)
        metrics["session.start_s"] = start_s
        metrics["session.jvm_peak_rss_mb"] = ctx.reader.jvm_peak_rss_mb()
        metrics["session.warmup_s"] = warmup_s
        metrics["trace.pass_s"] = _median(p.seconds for p in passes)
        out = Path(work).parent.parent / ".perfbench_out"
        out.mkdir(exist_ok=True)
        (out / f"spans-{args.workload}-seed{args.seed}.json").write_text(
            json.dumps(tracer.dump()))
    else:
        metrics = {
            "setup_s": start_s + warmup_s,
            "pass_s": _median(p.seconds for p in passes),
            "op_geomean_s": statistics.geometric_mean(
                s.seconds for p in passes for s in p.samples),
        }
    print(json.dumps({"detail": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": [round(p.seconds, 3) for p in passes],
        "ops": {s.op: [round(x.seconds, 3) for p in passes for x in p.samples if x.op == s.op]
                for s in passes[0].samples},
        "setup": [round(start_s, 3), round(warmup_s, 3)],
        "phases": {k: round(v, 3) for k, v in phases.items()},
        "memo_payers": ctx.payers,
        "failures": ctx.failures[:5],
    }}))
    return {
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {m: {"value": v, "unit": unit(m)} for m, v in metrics.items()},
    }
