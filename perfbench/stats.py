"""The benchmark's own arithmetic, kept free of Spark so it can be tested alone.

- ``percentile`` / ``samples_beyond``: nearest-rank percentiles, and how
  many samples lie past one.
- ``entry_medians``: each registry entry's median call, summed into the
  registry's ``pass_s``.
- ``union_length``: the stage-interval union behind ``exec.outside_stage_s``.
- ``read_file_log`` / ``read_offsets`` / ``file_batches`` /
  ``join_latency``: the landed file → micro-batch → commit join behind the
  live latency figures.
- ``backlog_counts``: files landed but not yet committed by every query.
"""

from __future__ import annotations

import json
import math
import os
import statistics


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q`` of
    the samples at or below it (``0 < q <= 1``)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 1:
        raise ValueError(f"percentile rank {q} outside (0, 1]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q * len(ordered))) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly past the nearest-rank ``q``."""
    return n - max(1, math.ceil(q * n))


def entry_medians(samples: dict[str, list[float]]) -> dict[str, float]:
    """``{entry: median of its timed calls}`` over entries with any call."""
    return {name: statistics.median(ss) for name, ss in samples.items() if ss}


def union_length(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_file_log(log_dir: str) -> dict[int, list[str]]:
    """Parse a Spark file-stream metadata log (a file source's ``sources/0``
    or a file sink's ``_spark_metadata``) into ``{log id: [file basenames]}``.

    Each log file is ``v1`` followed by one JSON entry per file. A compacted
    log (``<id>.compact``) repeats the entries of every earlier id; source
    entries carry their own ``batchId``, sink entries do not. So each file is
    taken from its own log id where that file still exists, else from the
    entry's ``batchId``, else from the compacted log's id. A sink log is keyed
    by micro-batch id; a source log by the source's own offset, which
    ``read_offsets`` maps to micro-batches.
    """
    if not os.path.isdir(log_dir):
        return {}
    logs = []
    for name in os.listdir(log_dir):
        stem = name.removesuffix(".compact")
        if stem.isdigit():
            logs.append((name.endswith(".compact"), int(stem), name))
    seen: set[str] = set()
    batches: dict[int, list[str]] = {}
    for _, log_id, name in sorted(logs):  # plain logs before compacted ones
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if not line.strip():
                continue
            entry = json.loads(line)
            path = os.path.basename(entry["path"])
            if path not in seen:
                seen.add(path)
                batches.setdefault(int(entry.get("batchId", log_id)), []).append(path)
    return batches


def read_offsets(offset_dir: str) -> dict[int, int]:
    """``{micro-batch id: file-source log offset}`` from a query's
    ``offsets/<id>`` files (``v1``, batch metadata, then one offset per
    source; this reads the first source's ``logOffset``)."""
    if not os.path.isdir(offset_dir):
        return {}
    out = {}
    for name in os.listdir(offset_dir):
        if name.isdigit():
            with open(os.path.join(offset_dir, name)) as f:
                lines = f.read().splitlines()
            out[int(name)] = int(json.loads(lines[2])["logOffset"])
    return out


def commit_times(commit_dir: str) -> dict[int, float]:
    """``{batch id: commit time}``, read from each ``commits/<id>`` file's
    modification time (epoch seconds)."""
    if not os.path.isdir(commit_dir):
        return {}
    return {
        int(name): os.stat(os.path.join(commit_dir, name)).st_mtime
        for name in os.listdir(commit_dir)
        if name.isdigit()
    }


def file_batches(
    source_log: dict[int, list[str]], offsets: dict[int, int]
) -> dict[str, int]:
    """``{file: micro-batch that read it}``: a file at source log id ``i`` is
    read by the first micro-batch whose offset reaches ``i``."""
    out = {}
    order = sorted(offsets.items())
    for log_id, files in source_log.items():
        batch = next((b for b, off in order if off >= log_id), None)
        if batch is not None:
            for f in files:
                out.setdefault(f, batch)
    return out


def join_latency(
    landed: dict[str, float],
    queries: list[tuple[dict[str, int], dict[int, float]]],
) -> dict[str, float | None]:
    """Per landed file, the time from landing until every query committed
    the micro-batch that read it, or None if some query has not.

    ``landed`` maps file basename → landing time; ``queries`` holds, per
    query, its ``file_batches`` map and its ``commit_times``.
    """
    out: dict[str, float | None] = {}
    for f, t_land in landed.items():
        done = t_land
        for batch_of, commits in queries:
            t = commits.get(batch_of.get(f, -1))
            if t is None:
                done = None
                break
            done = max(done, t)
        out[f] = None if done is None else done - t_land
    return out


def backlog_counts(
    spans: list[tuple[float, float]], lo: float, hi: float, step: float
) -> list[int]:
    """Sample, every ``step`` seconds over ``[lo, hi]``, how many
    ``(landed, committed)`` spans are open; ``committed`` may be ``inf``."""
    counts = []
    t = lo
    while t <= hi:
        counts.append(sum(1 for a, b in spans if a <= t < b))
        t += step
    return counts
