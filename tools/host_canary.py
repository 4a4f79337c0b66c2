"""Host-quiescence canary: is the host steady enough to time on?

A FIXED amount of single-threaded, Spark-free CPU work is timed
``CANARY_N`` times right before a timing session, and the samples go
into that session's artifact, so a suspicious number carries its own
host context. A timing run started right after a heavy multi-JVM sweep
once read ~2x inflated with rising samples; that rising load is what
the canary catches.

Fixed work = a pure-Python FNV-style hash loop: deterministic (identical
instruction stream every sample, no allocation growth), and
single-threaded Python is maximally sensitive to scheduler pressure from
a still-draining JVM or sibling build. Trend rule: strictly rising
samples AND last/first > ``TREND_RATIO`` — a flat-but-slow host only
shifts the numbers. On a trending host the caller WARNS by default and
refuses when ``SPARK_GRAFT_CANARY_STRICT=1``.
"""

from __future__ import annotations

import os
import sys
import time

#: Samples per canary run — enough to see a monotone trend, cheap
#: enough (~1 s total) to never distort the session it guards.
CANARY_N = 3

#: last/first ratio above which strictly rising samples are flagged.
#: The r10 incident read ~2x with clear monotone rise; 1.15 sits well
#: under that while staying above same-host jitter (measured ≤1.10
#: spread for this loop even beside a concurrently running pytest).
TREND_RATIO = 1.15


def _fixed_work() -> float:
    """One deterministic unit of single-threaded CPU work (~0.3 s)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 1099511628211 + i) & ((1 << 61) - 1)
    assert acc >= 0
    return time.perf_counter() - t0


def run_canary() -> dict:
    """Time the fixed work CANARY_N times; return the artifact fields."""
    samples = [round(_fixed_work(), 4) for _ in range(CANARY_N)]
    rising = all(b > a for a, b in zip(samples, samples[1:]))
    ratio = round(samples[-1] / samples[0], 3)
    return {
        "samples_s": samples,
        "ratio": ratio,
        "trending_up": bool(rising and ratio > TREND_RATIO),
    }


def gate_or_warn(tag: str) -> dict:
    """Run the canary for a session named ``tag``; warn (default) or
    refuse (SPARK_GRAFT_CANARY_STRICT=1) when the host is trending up.
    Returns the canary dict for the caller to embed in its artifact."""
    c = run_canary()
    if c["trending_up"]:
        msg = (
            f"host canary TRENDING UP before {tag}: samples "
            f"{c['samples_s']} (ratio {c['ratio']} > {TREND_RATIO}) — "
            "timings from this session are suspect; re-run on a quiet "
            "host"
        )
        if os.environ.get("SPARK_GRAFT_CANARY_STRICT"):
            raise SystemExit(msg)
        print(msg, file=sys.stderr)
    return c
