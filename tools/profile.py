"""Profile registry entries with bench.py's own warm-up and sample loop.

Runs ``--passes`` whole-set interleaved passes over the named queries
(default: all of ``__spark_entry__.queries()``) in one fresh session,
through ``bench.warm_up`` and ``bench.run_once``: the bench's warm-up,
noop sink and memo-build attribution. Prints one JSON line per query
(samples, median, cold memo builds, the plan-shape counts of the frame
it timed, and ``numInputRows``/``durationMs`` per micro-batch of each
streaming run it started), then one summary line (per-pass totals, the
``--conf`` overrides, the host canary taken before the session).

Micro-batch progress comes from a ``StreamingQueryListener``.
``onQueryStarted`` runs before ``start()`` returns, so the runs a sample
started are known when it ends; each is then awaited, untimed and
bounded, until ``onQueryTerminated`` has followed its last progress.

Usage::

    python tools/profile.py [--sf DIR] [--passes N] [--conf k=v ...] \
        [--plans DIR] [query ...]

``--conf`` applies at session start and is checked against the live
session: give each side of an A/B its own process. ``--plans DIR``
writes each query's ``explain("formatted")`` to ``DIR/<query>.txt``.
Exits 2 on an unknown query name or a conf the session did not take.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading

_TOOLS = os.path.dirname(os.path.abspath(__file__))

if __name__ == "profile":
    # This file shares its name with the stdlib ``profile`` module, which
    # ``import pyspark`` reaches through cProfile. Any process with tools/
    # on sys.path (``python tools/<x>.py``, perfbench) finds this file
    # first: hand the importer the stdlib module instead.
    import importlib.machinery
    import importlib.util

    _path = [p for p in sys.path if os.path.abspath(p or ".") != _TOOLS]
    _spec = importlib.machinery.PathFinder.find_spec("profile", _path)
    sys.modules["profile"] = _std = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(_std)

#: Seconds to wait, per streaming run, for ``onQueryTerminated`` after the
#: sample that started it returned (it lands ~0.1 s after awaitTermination).
TERMINATION_WAIT_S = 30.0


def _progress_listener():
    """A listener that collects each streaming run's micro-batch progress,
    keyed by run id in start order."""
    from pyspark.sql.streaming import StreamingQueryListener  # noqa: PLC0415

    class Progress(StreamingQueryListener):
        def __init__(self):
            super().__init__()
            self.cond = threading.Condition()
            self.runs: dict[str, dict] = {}

        def onQueryStarted(self, event):
            with self.cond:
                self.runs[str(event.runId)] = {
                    "name": event.name, "terminated": False, "batches": []
                }

        def onQueryProgress(self, event):
            p = event.progress
            with self.cond:
                self.runs[str(p.runId)]["batches"].append({
                    "batch": p.batchId, "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.cond:
                self.runs[str(event.runId)]["terminated"] = True
                self.cond.notify_all()

        def runs_since(self, first: int) -> list[dict]:
            """The runs started after the first ``first``, each awaited
            until terminated or TERMINATION_WAIT_S passed."""
            with self.cond:
                runs = list(self.runs.values())[first:]
                for run in runs:
                    self.cond.wait_for(
                        lambda r=run: r["terminated"], TERMINATION_WAIT_S
                    )
                return runs

    return Progress()


def _plan_shape(df) -> dict:
    from kafka_exercise_spark import plans  # noqa: PLC0415

    return {
        "shuffles": plans.shuffle_exchange_count(df),
        "broadcast_joins": plans.broadcast_join_count(df),
        "python_eval_nodes": plans.python_eval_count(df),
        "codegen_spans": plans.wholestage_codegen_spans(df),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--conf", action="append", default=[], metavar="K=V")
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.passes < 1:
        ap.error("--passes must be at least 1")
    if any("=" not in c for c in args.conf):
        ap.error("--conf takes k=v")

    sys.path.insert(0, os.path.dirname(_TOOLS))
    import __spark_entry__ as entrymod  # noqa: PLC0415
    from bench import run_once, warm_up  # noqa: PLC0415
    from kafka_exercise_spark.plans import explain_str  # noqa: PLC0415
    from kafka_exercise_spark.session import get_spark  # noqa: PLC0415
    from tools.host_canary import gate_or_warn  # noqa: PLC0415

    queries = entrymod.queries()
    names = args.queries or list(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    canary = gate_or_warn("profile")
    extra = dict(c.split("=", 1) for c in args.conf)
    spark = get_spark("profile", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    # getOrCreate silently keeps a pre-existing session's confs: the A/B
    # is void if an override did not take
    for k, v in extra.items():
        got = spark.conf.get(k)
        if got != v:
            print(f"conf {k}={got!r}, wanted {v!r} — stale session?", file=sys.stderr)
            return 2
    listener = _progress_listener()
    spark.streams.addListener(listener)
    warm_up(spark, args.sf)

    samples: dict[str, list[float]] = {n: [] for n in names}
    cold_builds: dict[str, dict[str, float]] = {}
    streams: dict[str, list[dict]] = {n: [] for n in names}
    timed = {}
    pass_totals = []
    for i in range(args.passes):
        for name in names:
            first = len(listener.runs)
            timed[name] = run_once(
                spark, queries[name], args.sf, samples[name], name, cold_builds
            )
            for run in listener.runs_since(first):
                streams[name].append({"pass": i, **run})
        total = sum(samples[n][-1] for n in names if samples[n][-1] >= 0)
        pass_totals.append(round(total, 2))
        print(json.dumps({"pass": i, "total_s": pass_totals[-1]}), file=sys.stderr)
    spark.streams.removeListener(listener)

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    for name in names:
        ts, df = samples[name], timed[name]
        rec = {
            "query": name,
            "samples": [round(t, 4) for t in ts],
            "median": round(statistics.median(ts), 4) if min(ts) >= 0 else -1.0,
            "cold_builds": cold_builds.get(name, {}),
            "plan": _plan_shape(df) if df is not None else None,
            "streams": streams[name],
        }
        if args.plans and df is not None:
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(explain_str(df))
        print(json.dumps(rec), flush=True)
    print(json.dumps({
        "sf": args.sf, "n_queries": len(names), "passes": args.passes,
        "pass_totals_s": pass_totals, "conf": extra, "host_canary": canary,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
