"""Bounded Spark-side iteration in one place. CC, k-core, PageRank,
label propagation, BFS, BPE and MMR run their rounds through
``iterate``, which owns the lineage cut and its cadence, the per-round
probe, the convergence test and the bound.

``cut`` is the one lineage-cut policy: a reliable ``checkpoint()`` when
the session has a checkpoint directory (Spark's ``spark.checkpoint.dir``
on a shared FS: rounds survive executor loss on a preemptible fleet),
else ``localCheckpoint()`` (fastest; an executor loss kills the loop).

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

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation


def cut(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and cut its lineage (policy above)."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


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
