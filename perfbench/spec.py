"""What the benchmark reports: workloads and metrics, with units.

``BENCHMARK.json`` at the repository root is this module's ``benchmark()``
written out; ``test_perfbench.py`` checks that the two agree.
"""

from __future__ import annotations

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 20

WORKLOADS = {
    "live_reference": (
        "the reference CDC topology (jovens + idadecont) live: a backlog "
        "catch-up, then an open-loop generator landing 2 one-row files/s"
    ),
    "registry_heavy": (
        "8 heavy similarity/dedup/text/market entries, closed loop: stage "
        "compute, shuffle, Python workers and memo-served frames"
    ),
}

#: Frozen query lists (see README.md for why each entry is there).
REGISTRY = {
    "registry_heavy": (
        "pq_encode", "bm25_topk", "dedup_incremental",
        "heavy_hitters_topk", "lm_bigram_score", "basket_pair_rules",
        "er_fuzzy_pairs", "quality_quantile_filter",
    ),
}

#: name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "pass_cpu_s": ("s", "lower", 0.25),
}

QUERIES = ("jovens", "idadecont")
PHASES = ("catchup", "steady")
#: Per-query micro-batch metrics: name -> ``durationMs`` key of a progress.
STREAM_MS = {
    "trigger_ms_p50": "triggerExecution",
    "latest_offset_ms_p50": "latestOffset",
    "query_planning_ms_p50": "queryPlanning",
    "add_batch_ms_p50": "addBatch",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
}
#: Status-store totals per call (or per streaming run): name -> unit.
EXEC_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "failed_tasks": "count", "outside_stage_s": "s", "in_stage_s": "s",
    "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}
#: The operator modules the registry workload's entries come from.
OPERATOR_MODULES = (
    "similarity", "dedup", "textops", "sampling", "market", "entityres",
)


def _per_layer() -> dict[str, tuple[str, str]]:
    m: dict[str, tuple[str, str]] = {
        "wall.pass_s": ("s", "lower"),
        "session.get_spark_s": ("s", "lower"),
        "catalog.memo_builds": ("count", "lower"),
        "catalog.memo_build_s": ("s", "lower"),
        "catalog.memo_builds_timed": ("count", "lower"),
        "registry.call_s": ("s", "lower"),
        "registry.action_s": ("s", "lower"),
    }
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.s"] = ("s", "lower")
    for k, unit in EXEC_UNITS.items():
        m[f"exec.{k}"] = (unit, "lower")
    m["sources.backlog_files_p95"] = ("count", "lower")
    m["sources.backlog_files_max"] = ("count", "lower")
    m["streaming.latency_p50_ms"] = ("ms", "lower")
    m["streaming.latency_p75_ms"] = ("ms", "lower")
    for q in QUERIES:
        for ph in PHASES:
            m[f"streaming.{q}.{ph}.batches"] = ("count", "higher")
            for k in STREAM_MS:
                m[f"streaming.{q}.{ph}.{k}"] = ("ms", "lower")
    for ph in PHASES:
        m[f"state.idadecont.{ph}.commit_ms_p50"] = ("ms", "lower")
        m[f"state.idadecont.{ph}.rows_total_max"] = ("count", "lower")
        m[f"state.idadecont.{ph}.memory_bytes_max"] = ("bytes", "lower")
    for q in QUERIES:
        for ph in PHASES:
            m[f"sinks.{q}.{ph}.files"] = ("count", "lower")
    m["bench.peak_rss_mb"] = ("MB", "lower")
    m["bench.host_steal_pct"] = ("%", "lower")
    m["bench.gen_late_p99_ms"] = ("ms", "lower")
    m["bench.trace_overhead_pct"] = ("%", "lower")
    return m


PER_LAYER = _per_layer()


def benchmark() -> dict:
    """The contents of ``BENCHMARK.json``."""
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b) in PER_LAYER.items()
        ],
    }
