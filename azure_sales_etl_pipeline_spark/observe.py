"""The package's one job counter, and the labels that attribute jobs.

``count_jobs`` reads the DAG scheduler's job-id counter before and
after a call: every job submitted in between counts, whichever thread
or job group submitted it. A Structured Streaming query runs each
micro-batch on the stream's own thread under its run-id job group, so
counting the caller's job group would miss those jobs. Reading the
counter fires no job.

Concurrent units (``functions.concurrent_map``) share one counter, so a
delta cannot say which unit fired a job. Each unit labels its jobs
instead: ``described`` sets ``spark.job.description`` on its thread
(the job group is inherited from the caller), and ``jobs_by_stage``
reads each job's group and description back from the app status store
— driver-side, no job.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable, Iterator
from contextlib import contextmanager

_DESCRIPTION = "spark.job.description"


def count_jobs(spark, fn: Callable[[], object]) -> int:
    """Number of Spark jobs submitted while ``fn()`` runs."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first = scheduler.nextJobId()
    fn()
    return scheduler.nextJobId() - first


@contextmanager
def described(spark, text: str) -> Iterator[None]:
    """Label every job this thread submits inside the block with
    ``text``; the thread's previous description comes back after."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(_DESCRIPTION)
    sc.setLocalProperty(_DESCRIPTION, text)
    try:
        yield
    finally:
        sc.setLocalProperty(_DESCRIPTION, prev)  # None removes it


def jobs_by_stage(spark, fn: Callable[[], object]) -> Counter:
    """Jobs submitted while ``fn()`` runs, counted per ``(job group,
    job description)``; a missing label reads None. The same job range
    as ``count_jobs``, so the counts sum to it (as long as the status
    store still retains every job: ``spark.ui.retainedJobs``)."""
    sc = spark.sparkContext._jsc.sc()
    scheduler = sc.dagScheduler()
    first = scheduler.nextJobId()
    fn()
    last = scheduler.nextJobId()
    sc.listenerBus().waitUntilEmpty()  # the store learns of a job from the bus
    store = sc.statusStore()
    out: Counter = Counter()
    for job_id in range(first, last):
        job = store.job(job_id)
        labels = (job.jobGroup(), job.description())
        out[tuple(o.get() if o.isDefined() else None for o in labels)] += 1
    return out
