"""Driver-side observation for the traced run.

Nothing here submits a Spark job. ``SparkReader`` reads the DAG
scheduler's job-id counter, the application status store and a
DataFrame's Catalyst phase tracker; ``StreamListener`` receives
Structured Streaming progress events; ``Tracer`` records spans around
calls into the package's public functions by swapping in wrappers
defined here, and puts the originals back when it is closed.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import sys
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end <= reach:
            continue
        total += end - max(start, reach)
        reach = end
    return total


def file_sizes(path: str | Path) -> dict[str, int]:
    """Size of every file under ``path`` (none if it does not exist)."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            out[full] = os.path.getsize(full)
    return out


def dir_bytes(path: str | Path) -> int:
    return sum(file_sizes(path).values())


class SparkReader:
    """Reads of driver-side Spark state: the job counter, per-job and
    per-stage figures from the status store, Catalyst phase times and
    the peak resident memory of the Spark driver's JVM."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()

    def job_id(self) -> int:
        """Id the next submitted job will get; jobs fired between two
        reads are exactly the ids in between."""
        return int(self._sc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far,
        so the status store holds the jobs that just ended."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, first: int, end: int) -> dict[str, float]:
        """Totals over jobs ``first .. end-1``. Call ``drain`` first."""
        store = self._sc.statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0)
        intervals = []
        for jid in range(first, end):
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = job.stageIds()
            for i in range(ids.size()):
                stage = store.lastStageAttempt(ids.apply(i))
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
                out["executor_run_s"] += stage.executorRunTime() / 1e3
                out["executor_cpu_s"] += stage.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += stage.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += stage.shuffleWriteBytes() / MB
                out["spill_mb"] += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / MB
        out["job_intervals"] = intervals
        return out

    @staticmethod
    def catalyst(df) -> dict[str, float]:
        """Analysis, optimization and planning seconds of ``df``'s own
        query execution. Forces planning of that execution if the action
        ran through another one (as ``df.write`` does); planning runs no
        job."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        return out

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamListener(StreamingQueryListener):
    """Collects every query's trigger progress: the ``durationMs``
    breakdown and the state-store row totals, stamped with the
    trigger's own (JVM clock) start time."""

    def __init__(self):
        self._lock = threading.Lock()
        self.progress: list[tuple[float, dict[str, int], int]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rows = sum(op.numRowsTotal for op in p.stateOperators)
        with self._lock:
            self.progress.append((_epoch(p.timestamp), dict(p.durationMs), rows))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def between(self, start: float, end: float) -> dict[str, float]:
        """Totals over triggers that started in ``[start, end]``."""
        out = dict.fromkeys(("triggers", "trigger_s", "add_batch_s", "query_planning_s",
                             "wal_commit_s", "latest_offset_s", "state_rows"), 0.0)
        with self._lock:
            rows = [p for p in self.progress if start <= p[0] <= end]
        for _, d, state_rows in rows:
            out["triggers"] += 1
            out["trigger_s"] += d.get("triggerExecution", 0) / 1e3
            out["add_batch_s"] += d.get("addBatch", 0) / 1e3
            out["query_planning_s"] += d.get("queryPlanning", 0) / 1e3
            out["wal_commit_s"] += d.get("walCommit", 0) / 1e3
            out["latest_offset_s"] += d.get("latestOffset", 0) / 1e3
            out["state_rows"] += state_rows
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


#: What a span may add to its counts, from the wrapped call's arguments
#: and result: ``counts(args, kwargs, result, state)``, where ``state``
#: is what ``before(args, kwargs)`` returned.
Counter = Callable[[tuple, dict, object, object], dict[str, float]]


class Tracer:
    """Spans at layer boundaries, kept in memory.

    ``patch`` replaces a function or method with a wrapper that records
    a span (with the number of Spark jobs fired inside it) and returns
    the call's result unchanged; a module-level function is replaced in
    every loaded module of the package that imported it by name.
    ``close`` restores the originals."""

    def __init__(self, reader: SparkReader, package: str):
        self.reader = reader
        self.package = package
        self.spans: list[Span] = []
        self.op: str | None = None
        #: Seconds spent in the tracer's own bookkeeping.
        self.own_s = 0.0
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object, bool]] = []

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, 0.0, 0.0, parent, self.op)
        self.spans.append(rec)
        self._stack.append(idx)
        job0 = self.reader.job_id()
        rec.start = time.perf_counter()
        self.own_s += rec.start - t
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            rec.counts["jobs"] = self.reader.job_id() - job0
            self._stack.pop()
            self.own_s += time.perf_counter() - rec.end

    def _wrapper(self, fn, name: str, before, counts: Counter | None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t = time.perf_counter()
            state = before(args, kwargs) if before else None
            tracer.own_s += time.perf_counter() - t
            with tracer.span(name) as rec:
                result = fn(*args, **kwargs)
            t = time.perf_counter()
            if counts:
                rec.counts.update(counts(args, kwargs, result, state))
            tracer.own_s += time.perf_counter() - t
            return result

        return traced

    def patch(self, owner, attr: str, name: str, counts: Counter | None = None,
              before: Callable[[tuple, dict], object] | None = None) -> None:
        own = attr in vars(owner)
        original = getattr(owner, attr)
        wrapper = self._wrapper(original, name, before, counts)
        self._restore.append((owner, attr, vars(owner).get(attr), own))
        setattr(owner, attr, wrapper)
        if isinstance(owner, type):
            return
        for mod_name, mod in list(sys.modules.items()):
            if mod is owner or not mod_name.startswith(self.package):
                continue
            if getattr(mod, attr, None) is original:
                self._restore.append((mod, attr, original, True))
                setattr(mod, attr, wrapper)

    def close(self) -> None:
        for owner, attr, original, own in reversed(self._restore):
            if own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)
        self._restore.clear()

    # -- aggregation ---------------------------------------------------

    def _has_ancestor(self, span: Span, layer: str) -> bool:
        p = span.parent
        while p is not None:
            if self.spans[p].name.split(":")[0] == layer:
                return True
            p = self.spans[p].parent
        return False

    def layer(self, layer: str, spans: list[Span]) -> dict[str, float]:
        """Busy seconds, calls and summed counts of ``layer``'s spans;
        a span inside another span of the same layer is not counted
        twice."""
        out = {"busy_s": 0.0, "calls": 0.0}
        for s in spans:
            if s.name.split(":")[0] != layer or self._has_ancestor(s, layer):
                continue
            out["busy_s"] += s.seconds
            out["calls"] += 1
            for k, v in s.counts.items():
                out[k] = out.get(k, 0.0) + v
        return out

    def self_seconds(self, name: str, spans: list[Span]) -> float:
        """Summed self time of the spans called ``name``: duration minus
        the part covered by their direct children."""
        total = 0.0
        for s in spans:
            if s.name == name:
                kids = [(c.start, c.end) for c in spans
                        if c.parent is not None and self.spans[c.parent] is s]
                total += s.seconds - union_seconds(kids)
        return total

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op": s.op, **s.counts}
            for s in self.spans
        ]
