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

Each entry is ``(value, releases)``: every tmp dir the build created,
and what every ``rounds.cut`` it made handed its scope (the JVM RDD
handle, plus the checkpoint directory of a reliable cut on the local
file system). The build runs inside its own ``rounds.scope()``, so its
cuts belong to the entry, never to the query scope that happened to pay
for the build (the ownership contract is in ``operators/rounds.py``).

A harness that times passes (``bench.py``, the ``perfbench`` workloads)
calls ``evict_all()`` before every pass, so each pass pays every build
exactly once. ``perfbench`` finds the store by walking the package for
module-level ``evict_*`` callables and the dict globals their code
names, so ``evict_all`` keeps its name and names ``_STORE`` in its own
body.
"""

from __future__ import annotations

import atexit
import tempfile
from typing import Callable

from .operators import rounds

#: (name, applicationId, sf_dir) -> (value, releases)
_STORE: dict[tuple[str, str, str], tuple[object, list]] = {}


class Releases:
    """Handed to a ``shared`` build: registers what ``evict_all`` frees
    besides the build's cuts."""

    def __init__(self) -> None:
        self.items: list = []

    def tmpdir(self, prefix: str) -> str:
        """Create a tmp dir that lives as long as the entry."""
        path = tempfile.mkdtemp(prefix=prefix)
        self.items.append(path)
        return path


def shared(name: str, spark, sf_dir: str, build: Callable[[Releases], object]):
    """The value memoized under ``name`` for this session and ``sf_dir``;
    on a miss, ``build(releases)`` runs once and its value is kept
    together with the cuts it made."""
    key = (name, spark.sparkContext.applicationId, sf_dir)
    hit = _STORE.get(key)
    if hit is None:
        releases = Releases()
        try:
            with rounds.scope() as cuts:
                value = build(releases)
                releases.items += cuts
                cuts.clear()  # the entry owns them now
        except BaseException:
            rounds.free(releases.items)
            raise
        hit = _STORE[key] = (value, releases.items)
    return hit[0]


def evict_all(where: Callable[[tuple[str, str, str]], bool] | None = None) -> None:
    """Free and drop every entry, or those whose key ``where`` accepts."""
    for key in [k for k in _STORE if where is None or where(k)]:
        rounds.free(_STORE.pop(key)[1])


@atexit.register
def _remove_dirs() -> None:
    """At exit the JVM takes every checkpoint block with it, and may be
    gone already; the tmp dirs and local checkpoint directories would
    outlive the process, and are deleted without Spark."""
    for _value, releases in _STORE.values():
        rounds.free([item for item in releases if isinstance(item, str)])
