"""Benchmark of the medallion engine: one command, every metric, checked.

    python3 perfbench/run.py --workload medallion_cdc --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) as a closed loop on
``local[<cpus>]`` and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same passes traced,
reports the per-layer metrics and writes the spans to
``.perfbench_out/``. See ``perfbench/README.md`` for the metric
definitions and the run policies.

The run needs the package ``azure_sales_etl_pipeline_spark`` next to
this directory; without it, it exits with status 2 and prints no
result.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "azure_sales_etl_pipeline_spark"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("medallion_cdc", "query_mix"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def set_environment(work: Path) -> None:
    """Make the run independent of the caller's working directory and
    keep every file it writes inside ``work``. Must run before pyspark
    launches the JVM: the JVM and its Python workers inherit this
    environment."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark_local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    tempfile.tempdir = str(tmp)
    sys.path[:0] = [str(HERE), str(ROOT)]


def session_conf(work: Path) -> dict[str, str]:
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


def warm_up(spark) -> None:
    """The codegen warm-up set: a join, a hash aggregate with an
    exchange, a window and a sort, each written to ``noop``."""
    a = spark.range(20_000).selectExpr("id", "id % 97 AS k", "cast(id AS double) * 1.5 AS v")
    b = spark.range(97).selectExpr("id AS k", "concat('n', id) AS name")
    joined = a.join(b, "k")
    joined.groupBy("name").agg({"v": "sum", "id": "count"}) \
        .write.format("noop").mode("overwrite").save()
    joined.selectExpr("k", "v", "row_number() OVER (PARTITION BY k ORDER BY v DESC) AS r") \
        .where("r <= 3").orderBy("k").write.format("noop").mode("overwrite").save()


def start_session(work: Path, t_main: float):
    """Start the session and run the warm-up set. The start is timed
    from the start of ``main``: it includes importing pyspark and
    launching the JVM. Returns the session, the start seconds and the
    warm-up seconds."""
    from azure_sales_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm_up(spark)
    return spark, t1 - t_main, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    # A terminated run still stops Spark and removes its work dir.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        set_environment(work)
        import harness

        spark, start_s, warmup_s = start_session(work, t_main)
        result = harness.run(spark, work, args, start_s, warmup_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
