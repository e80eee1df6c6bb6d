"""Spark results shared across query calls — the package's one memo.

Several query families start from the same materialized substrate: the
blocked-Jaccard pair table, the MinHash bands, the TF-IDF and BM25 term
tables, the DSIR features, the connected-components cluster table, the
demo medallion lake. ``shared`` builds each substrate once per
``(name, applicationId, sf_dir)`` and hands every later caller the same
value; each consumer module says why its substrate is shared.

The key carries the ``applicationId`` because a checkpointed frame is
bound to the SparkContext that materialized its blocks: a hit from a
later session would hand back a frame whose lineage points at a stopped
context.

Each entry is ``(value, releases)``: everything the build's own
``rounds.scope()`` was handed — each cut's JVM RDD handle, the
checkpoint directory of a reliable cut on the local file system, and
every tmp dir the build created. So the build's cuts and dirs belong to
the entry, never to the query scope that happened to pay for the build;
what ``evict_all`` has not freed by process exit is deleted then (the
ownership contract is in ``operators/rounds.py``).

A harness that times passes (``bench.py``, the ``perfbench`` workloads)
calls ``evict_all()`` before every pass, so each pass pays every build
exactly once. ``perfbench`` finds the store by walking the package for
module-level ``evict_*`` callables and the dict globals their code
names, so ``evict_all`` keeps its name and names ``_STORE`` in its own
body.
"""

from __future__ import annotations

import tempfile
from typing import Callable

from .operators import rounds

#: (name, applicationId, sf_dir) -> (value, releases)
_STORE: dict[tuple[str, str, str], tuple[object, list]] = {}


class Releases:
    """Handed to a ``shared`` build: makes what the entry keeps besides
    the build's cuts."""

    @staticmethod
    def tmpdir(prefix: str) -> str:
        """Create a tmp dir that lives as long as the entry."""
        path = tempfile.mkdtemp(prefix=prefix)
        rounds.own(path)  # the build's scope hands it to the entry
        return path


def shared(name: str, spark, sf_dir: str, build: Callable[[Releases], object]):
    """The value memoized under ``name`` for this session and ``sf_dir``;
    on a miss, ``build(releases)`` runs once and its value is kept
    together with the cuts it made."""
    key = (name, spark.sparkContext.applicationId, sf_dir)
    hit = _STORE.get(key)
    if hit is None:
        with rounds.scope() as owned:  # a failed build frees what it made
            entry = (build(Releases()), owned[:])
            # Two threads that miss at once both build; the first to
            # store wins, and the loser's scope frees what it made.
            hit = _STORE.setdefault(key, entry)
            if hit is entry:
                owned.clear()  # the entry owns them now
    return hit[0]


def evict_all(where: Callable[[tuple[str, str, str]], bool] | None = None) -> None:
    """Free and drop every entry, or those whose key ``where`` accepts."""
    for key in [k for k in _STORE if where is None or where(k)]:
        rounds.free(_STORE.pop(key)[1])
