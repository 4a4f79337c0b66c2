"""Per-layer measurement, read from outside the engine.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  writes them when the run ends. ``Tracer(enabled=False)`` records nothing,
  so untraced runs pay only a no-op call per boundary. A traced run times
  its own tracing work (span records, job groups, status-store and progress
  reads) as ``overhead_s``.
- ``exec_metrics`` reads Spark's status store for the jobs of one job group
  (a registry call) or one streaming query (its run id), after the work is
  done.
- ``progress_metrics`` summarises ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import time

from spec import EXEC_UNITS, STREAM_MS
from stats import union_length


class Tracer:
    """In-memory spans plus the time the traced run spends on tracing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        self.overhead_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            self._stack.pop()
            self.spans.append({
                "id": sid, "name": name, "start": start, "end": time.time(),
                "parent": parent, "run": self.run_id,
            })
            self.overhead_s += time.perf_counter() - t

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (e.g. by the generator)."""
        if self.enabled:
            with self.bookkeeping():
                self.spans.append({
                    "id": next(self._ids), "name": name, "start": start,
                    "end": end, "parent": None, "run": self.run_id,
                })

    @contextlib.contextmanager
    def bookkeeping(self):
        """Work done only for tracing (job groups, status-store and
        progress reads); its time counts as trace overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def exec_metrics(spark, job_ids: list[int], lo: float, hi: float) -> dict:
    """Status-store totals for ``job_ids`` over the window ``[lo, hi]``
    (epoch seconds): job, stage and task counts, time inside and outside
    stages, task run and CPU time, GC, shuffle and spill bytes."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(EXEC_UNITS, 0)
    intervals = []
    stage_ids = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        if info is not None:
            out["jobs"] += 1
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage was skipped and never ran
            continue
        start, end = _opt_ms(sd.submissionTime()), _opt_ms(sd.completionTime())
        if start is None:
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["task_run_s"] += sd.executorRunTime() / 1e3
        out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.diskBytesSpilled()
        intervals.append((start, end if end is not None else hi))
    out["in_stage_s"] = union_length(intervals, lo, hi)
    out["outside_stage_s"] = (hi - lo) - out["in_stage_s"]
    return out


def add_exec(total: dict, part: dict) -> None:
    for k in EXEC_UNITS:
        total[k] = total.get(k, 0) + part[k]


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def progress_metrics(progress: list, first: int, last: int) -> dict:
    """Medians and maxima over the executed micro-batches with ids in
    ``[first, last]`` of one query's ``recentProgress``."""
    batches = {}
    for p in progress:
        if first <= p.batchId <= last and "addBatch" in p.durationMs:
            batches[p.batchId] = p
    out = {"batches": len(batches)}
    for name, key in STREAM_MS.items():
        out[name] = _p50([p.durationMs.get(key, 0) for p in batches.values()])
    ops = [p.stateOperators[0] for p in batches.values() if p.stateOperators]
    out["state_commit_ms_p50"] = _p50([s.commitTimeMs for s in ops])
    out["state_rows_total_max"] = max((s.numRowsTotal for s in ops), default=0)
    out["state_memory_bytes_max"] = max(
        (s.memoryUsedBytes for s in ops), default=0
    )
    return out
