#!/usr/bin/env python
"""Ad-hoc steady-state timer for a named subset of registry queries.

Mimics bench.py's hygiene (per-pass memo eviction, a query scope
around each run and its write, per-query clearCache, warm-up pass) so the numbers are comparable to
BENCH_r*.json, but runs only the queries named on the command line —
the measurement loop for targeted optimization work.

Usage::

    python scripts/time_family.py [--sf DIR] [--passes N] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from azure_sales_etl_pipeline_spark import memo
    from azure_sales_etl_pipeline_spark.operators import rounds
    from azure_sales_etl_pipeline_spark.session import get_spark
    from __spark_entry__ import queries

    spark = get_spark(app_name="time_family")
    qs = queries()
    missing = [n for n in args.names if n not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    # Warm-up: run each target once so JIT/codegen/session costs don't
    # land on pass 1.
    for n in args.names:
        with rounds.scope():
            qs[n](spark, args.sf).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    samples: dict[str, list[float]] = {n: [] for n in args.names}
    for _ in range(args.passes):
        memo.evict_all()
        for n in args.names:
            t0 = time.perf_counter()
            with rounds.scope():
                qs[n](spark, args.sf).write.format("noop").mode("overwrite").save()
            samples[n].append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
    mins = {n: min(v) for n, v in samples.items()}
    print(json.dumps({"min": mins, "sum_min": round(sum(mins.values()), 2),
                      "samples": samples}, indent=1))


if __name__ == "__main__":
    main()
