"""The package's one job counter.

``count_jobs`` reads the DAG scheduler's job-id counter before and
after a call: every job submitted in between counts, whichever thread
or job group submitted it. A Structured Streaming query runs each
micro-batch on the stream's own thread under its run-id job group, so
counting the caller's job group would miss those jobs. Reading the
counter fires no job.
"""

from __future__ import annotations

from collections.abc import Callable


def count_jobs(spark, fn: Callable[[], object]) -> int:
    """Number of Spark jobs submitted while ``fn()`` runs."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first = scheduler.nextJobId()
    fn()
    return scheduler.nextJobId() - first
