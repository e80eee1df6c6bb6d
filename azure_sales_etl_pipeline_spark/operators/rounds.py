"""The package's one materialization policy, and bounded Spark-side
iteration on top of it. Every eager cut in the package is ``cut(df)``;
CC, k-core, PageRank, label propagation, BFS, BPE and MMR run their
rounds through ``iterate``, which owns the cut cadence, the per-round
probe, the convergence test and the bound.

``cut`` is the one lineage-cut policy: a reliable ``checkpoint()`` when
the session has a checkpoint directory (Spark's ``spark.checkpoint.dir``
on a shared FS: rounds survive executor loss on a preemptible fleet),
else ``localCheckpoint()`` (fastest; an executor loss kills the loop).

Every cut has an owner that frees it — the split between lineage and
persistence of "Resilient Distributed Datasets" (NSDI 2012). While a
``scope()`` is open on this thread, each ``cut`` registers with the
innermost one, and the scope frees its cuts on exit; ``memo.shared``
builds inside its own scope and adopts what it registered, so a memo
entry owns its build's cuts until ``memo.evict_all``. A harness wraps
each query call plus its final write in ``scope()``, so a query's cuts
never outlive it. ``release(df)`` frees one cut now (a build's
intermediate that no kept frame reads any more); ``iterate`` releases
nothing, since a step may read every earlier round (BFS unions its
rings). A cut made with no scope open has no owner: only a JVM GC
frees it.

Freeing goes through the cut's own RDD handle. ``DataFrame.unpersist``
and ``spark.catalog.clearCache()`` go through the cache manager, which
never saw a checkpoint, so both leave its blocks persistent; and Spark
keeps a reliable checkpoint's files after the RDD is gone, so freeing
deletes its ``getCheckpointFile()`` directory too. A reliable cut on
the local file system also hands its owner that directory as a plain
path, which ``free`` deletes without Spark: an owner that outlives the
JVM (a memo entry at process exit) can still remove the files.

A probe rides the round's one materialization through ``observe()``, so
it costs no ``count()`` job. Write probes as ``F.count(F.when(cond, 1))``
(never null, type-generic): a null probe raises, since ``sum`` over
zero rows is null and reading it as 0 would call a broken round done.

Exchange reuse: a round that self-joins two projections of one
aggregate (CC's pointer doubling) costs one job only while both sides
keep the identical aggregate, so Spark plans the second side as a
``ReusedExchange``. Pruning an output from one side only makes the
aggregates differ, and AQE pays up to one more job per round; keep
every output alive on both sides (a probe over it is enough) — the
exchange-reuse concern of "New Query Optimization Techniques in the
Spark Engine of Azure Synapse" (VLDB 2021).
"""

from __future__ import annotations

import shutil
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation

#: ``stack``: the open scopes on this thread, innermost last; each is
#: the list of the cuts' JVM RDD handles it owns, and of the local
#: checkpoint directories of its reliable cuts
_SCOPES = threading.local()


def cut(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and cut its lineage (policy above); the
    innermost open scope owns the result."""
    reliable = bool(df.sparkSession.sparkContext.getCheckpointDir())
    out = df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)
    stack = getattr(_SCOPES, "stack", None)
    if stack:
        handle = _handle(out)
        stack[-1].append(handle)
        if reliable:
            files = urlparse(handle.getCheckpointFile().get())
            if files.scheme == "file":
                stack[-1].append(files.path)
    return out


@contextmanager
def scope() -> Iterator[list]:
    """Own every cut made on this thread until exit, then free them.
    Yields the owned handles: a caller that moves them out (as
    ``memo.shared`` does) takes over freeing them."""
    stack = _SCOPES.__dict__.setdefault("stack", [])
    owned: list = []
    stack.append(owned)
    try:
        yield owned
    finally:
        stack.pop()
        free(owned)


def release(df: DataFrame) -> None:
    """Free the cut ``df`` now and drop it from its owning scope (a
    local checkpoint directory it handed over stays listed; deleting it
    again later is a no-op)."""
    rdd = _handle(df)
    rid = rdd.id()
    for owned in getattr(_SCOPES, "stack", ()):
        owned[:] = [h for h in owned if isinstance(h, str) or h.id() != rid]
    free([rdd])


def free(items: list) -> None:
    """Unpersist each cut's blocks and delete its checkpoint files;
    delete each plain path (a directory) without Spark."""
    for rdd in items:
        if isinstance(rdd, str):
            shutil.rmtree(rdd, ignore_errors=True)
            continue
        try:
            rdd.unpersist(False)
            ckpt = rdd.getCheckpointFile()
            if ckpt.isDefined():
                path = SparkContext._jvm.org.apache.hadoop.fs.Path(ckpt.get())
                path.getFileSystem(rdd.context().hadoopConfiguration()).delete(path, True)
        except Exception:  # noqa: BLE001 — session may already be gone
            pass


def _handle(df: DataFrame):
    """The JVM RDD holding a cut's blocks (its plan is a LogicalRDD)."""
    return df._jdf.queryExecution().analyzed().rdd()


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int, Observation], DataFrame],
    *,
    max_rounds: int,
    converged: Callable[[dict], bool] | None = None,
    on_bound: str = "raise",
    cut_every: int = 1,
) -> DataFrame:
    """Run ``state = step(state, rnd, obs)`` for ``rnd`` = 1..``max_rounds``;
    return the last state. Every ``cut_every``-th round is cut; the
    others fold into the next cut's plan. With ``converged``, stop after
    the first cut round whose probe row (``obs.get``: what the step
    attached with ``observe(obs, ...)``) satisfies it; past the bound,
    ``on_bound="raise"`` raises and ``"stop"`` returns the last state."""
    row = None
    for rnd in range(1, max_rounds + 1):
        obs = Observation()
        state = step(state, rnd, obs)
        if rnd % cut_every:
            continue
        state = cut(state)
        if converged is None:
            continue
        row = obs.get
        if any(v is None for v in row.values()):
            raise RuntimeError(f"{step.__name__}: null probe in round {rnd}: {row}")
        if converged(row):
            return state
    if converged is not None and on_bound != "stop":
        raise RuntimeError(f"{step.__name__} did not converge in {max_rounds} rounds: {row}")
    return state
