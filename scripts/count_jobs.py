#!/usr/bin/env python
"""Steady-state job-count + wall-clock probe for registry queries.

This round's action-count work (observe()-fused probes, dropped
redundant checkpoints, checkpoint cadence) is evidenced by the number
of Spark jobs a query submits — read off the DAGScheduler's job-id
counter around the run. Unlike wall-clock on this host (±15-20 %
between JVMs), the job count is DETERMINISTIC, so before/after deltas
are exact. Same per-pass memo eviction as bench.py (``memo.evict_all``),
and the same query scope (``rounds.scope``) around each run and its write.

Several comma-separated queries share ONE session (one JVM cold start
instead of one per query); each gets its own warm run and passes.

Usage::

    python scripts/count_jobs.py <query>[,<query>...] [passes]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    names = sys.argv[1].split(",")
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from azure_sales_etl_pipeline_spark import memo
    from azure_sales_etl_pipeline_spark.operators import rounds
    from azure_sales_etl_pipeline_spark.session import get_spark
    from __spark_entry__ import queries

    spark = get_spark(app_name="count_jobs")
    qs = queries()
    fns = [qs[name] for name in names]  # unknown names fail before any run
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def next_job_id() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    for name, fn in zip(names, fns):
        with rounds.scope():
            fn(spark, sf).write.format("noop").mode("overwrite").save()  # warm
        spark.catalog.clearCache()
        ts = []
        for i in range(passes):
            memo.evict_all()
            j0 = next_job_id()
            t0 = time.perf_counter()
            with rounds.scope():
                fn(spark, sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            ts.append(dt)
            print(f"pass {i}: {dt:.2f}s jobs={next_job_id() - j0}", flush=True)
            spark.catalog.clearCache()
        print(f"RESULT {name} min={min(ts):.2f}", flush=True)


if __name__ == "__main__":
    main()
