"""Benchmark harness: run the engine's headline queries and print ONE JSON line.

Reads ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. Each query is forced end-to-end with the noop
sink (full execution, no driver collect — the same shape a cluster run has).

Noise policy (r04): per-query wall time swings ±30% between identical runs
on a busy host (GC, page cache, Python-worker reuse), so every query runs
``$SPARK_GRAFT_BENCH_REPEATS`` whole-set passes (default 3) and the MEDIAN
is reported; queries whose median lands under ``FAST_CUTOFF`` seconds are
noise-dominated at 3 samples, so they get extra passes up to
``FAST_REPEATS`` total samples — a median of 7 sub-0.3 s samples is stable
where a median of 3 is ±30%.

Output contract (r04): the full per-query medians (4 dp) are WRITTEN to
``bench_results.json`` next to this file — that artifact, committed per
round, is the round-over-round regression record covering ALL queries.
Since r10 the artifact also carries ``cold_builds``: which query paid
each memoized family frame's cold build this run (the scaling ladder's
build_s convention) — so a median inflated by set-order carries its own
attribution instead of needing an order-isolated probe next round.
The printed JSON line keeps itself ≤ ``PRINT_BUDGET`` bytes (the driver
records only the last 2000 chars of stdout, and an over-long line means
``parsed: null`` in BENCH_r{N}.json): it carries the totals plus the
slowest queries at 2 dp, dropping the fastest entries first, and points at
the artifact via "detail". Failed queries (-1.0) are always printed.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
FAST_CUTOFF = 1.0  # sec — below this, 3-sample medians are noise-dominated
# (r7: raised 0.3 → 1.0 — the r5→r6 diff flagged three 0.3–0.7 s entries as
# ">1.25× regressions" that were pure repeat noise; 7-sample medians on the
# sub-second tail cost ~2 min extra wall and stop the false flags.)
FAST_REPEATS = 7  # total samples collected for sub-cutoff queries
PRINT_BUDGET = 1950  # bytes — keep the whole line inside the driver's tail
#: The single query whose median wall defines stream_rows_per_sec (see
#: the metric-definition comment in run()).
THROUGHPUT_ANCHOR = "streaming_idadecont_replay"
#: Entries whose steady-state bench cost is a MEMO-SERVED frame read, not
#: a full re-execution (r8, VERDICT r7 ask #8): these replays memoize
#: their final frame per (applicationId, sf_dir) — the production
#: contract is "replay once, serve many", so the 0.02–0.25 s medians
#: below measure the served-read path (what a downstream consumer pays),
#: NOT the replay build. The build cost is audited separately by the
#: scaling rungs (SCALING_r*.json) and each entry's first bench pass.
#: Recorded into bench_results.json so round-over-round diffs and
#: outside readers don't misread the served-read rows as replay cost.
#: The ``streaming_*_replay`` entries NOT in this list (idadecont, user
#: state, dedup, neardup, enrich, winnow, session, join) re-execute
#: their StreamExecution micro-batch replay on every pass.
MEMO_SERVED = (
    "streaming_merge_replay",
    "streaming_scd2_replay",
    "streaming_compaction_replay",
    "streaming_model_gate_replay",
    "streaming_model_update_replay",
    "streaming_dq_gate",
    "streaming_curation_gate",
    "streaming_soft_draw_replay",
)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from kafka_exercise_spark.catalog import drain_memo_build_log  # noqa: E402
from kafka_exercise_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ARTIFACT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bench_results.json"
)


def warm_up(spark, sf_dir: str) -> None:
    """JVM/codegen, the parquet scan path, and one Python worker per core
    (pandas import + Arrow init) — measures queries the way a long-lived
    cluster runs them, not session cold-start. Memo builds the warm-up
    triggers are drained: they are nobody's attribution."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    try:
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    except Exception:  # noqa: BLE001 — warm-up only
        pass
    (
        spark.range(spark.sparkContext.defaultParallelism * 4)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(lambda it: it, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    drain_memo_build_log()


def run_once(
    spark,
    fn,
    sf_dir: str,
    samples: list[float],
    name: str,
    cold_builds: dict,
):
    """Time one noop-sink run of ``fn`` into ``samples`` (-1.0 on failure)
    and return the DataFrame it timed (None on failure)."""
    t0 = time.perf_counter()
    try:
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    except Exception as e:  # noqa: BLE001
        print(f"bench: query failed: {e}", file=sys.stderr)
        samples.append(-1.0)
        df = None
    # Self-attribution (the SCALING build_s convention, applied to bench
    # per VERDICT r9's recurring "cold parent build lands on whichever
    # entry runs first" finding): any memoized family frame built INSIDE
    # this sample is named with its cost under the query that paid it,
    # so an inflated median in bench_results.json carries its own
    # explanation instead of needing an order-isolated probe each round.
    # Same nesting caveat as the ladder: an outer build's seconds include
    # its inner builds' — read as "which frames were cold here".
    for c in drain_memo_build_log():
        per = cold_builds.setdefault(name, {})
        per[c["memo"]] = round(per.get(c["memo"], 0.0) + c["seconds"], 3)
    return df


def run() -> dict:
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    warm_up(spark, SF_DIR)
    # No separate per-query JIT-warm pass: with REPEATS >= 3 the first timed
    # pass carries the codegen/JIT cold cost for each shape and the MEDIAN
    # discards it ([cold, warm, warm] -> warm) — one fewer full sweep of
    # wall-clock than warming at sf0.001 separately.
    # Whole-set passes (not per-query back-to-back repeats): consecutive
    # repeats of one query would hit a hot page cache/JIT state unlike what
    # any fresh run sees; interleaving passes keeps each sample honest while
    # the median still cancels host noise.
    samples: dict[str, list[float]] = {name: [] for name in queries}
    cold_builds: dict[str, dict[str, float]] = {}
    for _ in range(REPEATS):
        for name, fn in queries.items():
            run_once(spark, fn, SF_DIR, samples[name], name, cold_builds)
    # Extra interleaved passes for the noise-dominated fast tail only —
    # cheap by construction (each added pass costs < FAST_CUTOFF per query).
    # THROUGHPUT_ANCHOR always gets the extra passes too: it is the sole
    # denominator of stream_rows_per_sec, and at ~1.4 s a 3-sample median
    # still swings ±7% run-to-run (the r4→r5 "6.4% dip" was exactly this
    # noise, not a regression) — 7 samples stabilize the headline metric
    # for ~6 s of extra wall.
    fast = [
        name
        for name, ts in samples.items()
        if all(t >= 0 for t in ts) and statistics.median(ts) < FAST_CUTOFF
    ]
    if (
        THROUGHPUT_ANCHOR in samples
        and THROUGHPUT_ANCHOR not in fast
        # Same failure guard as the fast-tail filter: a failing anchor
        # must not be re-run 4 more times with -1.0 sentinels polluting
        # its 7-sample median (it stays -1.0 via the all() in timings).
        and all(t >= 0 for t in samples[THROUGHPUT_ANCHOR])
    ):
        fast.append(THROUGHPUT_ANCHOR)
    for _ in range(FAST_REPEATS - REPEATS):
        for name in fast:
            run_once(spark, queries[name], SF_DIR, samples[name], name, cold_builds)
    timings = {
        name: round(statistics.median(ts), 4) if all(t >= 0 for t in ts) else -1.0
        for name, ts in samples.items()
    }
    m = re.search(r"sf([\d.]+)", SF_DIR)
    out = {
        "metric": "total_query_wall_sec",
        "value": round(sum(t for t in timings.values() if t >= 0), 4),
        "unit": "sec",
        "queries": timings,
        "repeats": REPEATS,
        "fast_repeats": FAST_REPEATS,
        "sf": float(m.group(1)) if m else None,
        # see the MEMO_SERVED comment: these medians are served-frame
        # reads (production steady state), not replay build cost
        "memo_served": [n for n in MEMO_SERVED if n in timings],
        # which query paid each memoized family frame's cold build this
        # run (artifact-only; see run_once) — the set-order attribution
        "cold_builds": cold_builds,
    }
    # Reference-comparable throughput. METRIC DEFINITION (pinned r6):
    # stream_rows_per_sec = |events fixture| / median wall of the ONE
    # anchor query THROUGHPUT_ANCHOR — the windowed-count pipeline
    # replaying the full events fixture through REAL StreamExecution. It
    # is deliberately a single-query metric (comparable round-over-round
    # and to the reference's 2 rows/s offered-load floor, BASELINE.md);
    # it does NOT average over the other replay entries, whose fixtures
    # and memo-served costs differ. The anchor is in the extra-samples
    # set above, so the median is 7-sample stable.
    t_stream = timings.get(THROUGHPUT_ANCHOR, -1.0)
    if t_stream > 0:
        try:
            n_events = (
                spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()
            )
            out["stream_rows_per_sec"] = round(n_events / t_stream, 1)
        except Exception:  # noqa: BLE001 — supplementary metric only
            pass
    return out


def _printable(out: dict) -> dict:
    """The ≤ PRINT_BUDGET-byte view of ``out``: totals + the slowest
    queries at 2 dp (failures always included), fastest dropped first."""
    full = out["queries"]
    # failures first, then slowest → fastest
    order = sorted(full, key=lambda k: (full[k] >= 0, -full[k]))
    compact = dict.fromkeys(order)
    # memo_served / cold_builds are artifact documentation — bytes that
    # would evict real query entries from the budgeted print line
    view = {
        k: v
        for k, v in out.items()
        if k not in ("queries", "memo_served", "cold_builds")
    }
    view["n_queries"] = len(full)
    view["detail"] = "bench_results.json"
    for name in order:
        compact[name] = round(full[name], 2)
    while order:
        view["queries"] = {k: compact[k] for k in order}
        if len(json.dumps(view, separators=(",", ":"))) <= PRINT_BUDGET:
            break
        order.pop()  # drop the fastest remaining entry
    return view


if __name__ == "__main__":
    result = run()
    with open(ARTIFACT, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(_printable(result), separators=(",", ":")))
