"""One benchmark run of one workload, in a fresh process.

``run.py`` starts this process with the host settings fixed in its
environment and reads the result from the last line of its standard output.
It drives the engine only through public calls: ``session.get_spark``, the
``__spark_entry__.queries()`` functions, ``catalog.drain_memo_build_log``,
``PipelineManager``, ``streaming.sources.file_stream``, Spark's job-group and
status-store API and ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]

import numpy as np  # noqa: E402

import generator  # noqa: E402
from run import log, session_cpu_s  # noqa: E402
from spec import OPERATOR_MODULES, REGISTRY, STREAM_MS  # noqa: E402
from stats import (  # noqa: E402
    backlog_counts, commit_times, entry_medians, file_batches, join_latency,
    percentile, read_file_log, read_offsets, samples_beyond,
)

#: registry: about how long one timed pass takes on a 4-core host; sets the
#: fixed pass count from --seconds.
NOMINAL_PASS_S = 7.0
#: live_reference sizing (README.md, "Sizing").
BACKLOG_FILES = 40
BACKLOG_ROWS_PER_FILE = 100
BACKLOG_SPAN_S = 3600.0
BACKLOG_PRE_CUTOFF = 0.1  # share of backlog rows dated before the jovens cutoff
#: Files per second: the reference generator's one row every 0.5 s.
STEADY_RATE = 2.0
#: Steady files landed before the measured ones: the first seconds after
#: catch-up still ran slower micro-batches (warm-up).
STEADY_WARM_S = 5.0
DRAIN_S = 10.0
POLL_S = 0.05
#: idadeclass_transform's default cutoff: value >= it is 'JOVEM'.
IDADE_CUTOFF_VALUE = 100.0


class InvalidRun(RuntimeError):
    """The run measured something other than the system (e.g. a late
    generator); it is reported as invalid, never as slow."""


def start_session(tracer, run_dir: str):
    from kafka_exercise_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def timed_passes(seconds: float) -> int:
    """Registry passes timed in one run: at least three, so each entry's
    median leaves out its slowest call."""
    return max(3, round(seconds / NOMINAL_PASS_S))


# ---------------------------------------------------------------- registry


def run_registry(args, tracer, t_start: float) -> tuple[dict, dict, dict]:
    import pandas as pd
    from verify_local import compare

    import __spark_entry__ as entrymod
    from kafka_exercise_spark.catalog import drain_memo_build_log
    from layers import add_exec, exec_metrics

    names = list(REGISTRY[args.workload])
    fns = entrymod.queries()
    oracles = json.loads(args.oracles)
    spark, get_spark_s = start_session(tracer, args.run_dir)
    sc = spark.sparkContext
    rng = random.Random(args.seed)
    attempted = failed = 0

    # Untimed pass: every entry once against its DuckDB twin. It is also the
    # warm-up: it starts the Python workers and fills the memos and the
    # codegen cache that the timed passes reuse.
    order = names[:]
    rng.shuffle(order)
    for name in order:
        attempted += 1
        with tracer.span(f"registry.check:{name}"):
            try:
                got = fns[name](spark, args.sf_dir).toPandas()
                problems = compare(name, got, pd.read_pickle(oracles[name]))
            except Exception as e:  # noqa: BLE001 — a failed entry is data
                problems = [f"error: {e}"]
        if problems:
            failed += 1
            log(f"check FAIL {name}: {'; '.join(problems)[:300]}")
    with tracer.span("catalog.drain_memo_build_log"):
        setup_builds = drain_memo_build_log()
    setup_s = time.time() - t_start

    samples: dict[str, list[float]] = {n: [] for n in names}
    cpu_samples: dict[str, list[float]] = {n: [] for n in names}
    sid = os.getsid(0)
    pass_walls: list[float] = []
    call_s = action_s = 0.0
    exec_total: dict = {}
    t_timed = time.perf_counter()
    # A fixed number of passes: calls keep speeding up for several passes
    # (JIT, reused Python workers), so a host that fits in one more pass
    # would otherwise also measure warmer passes.
    for _ in range(timed_passes(args.seconds)):
        order = names[:]
        rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            attempted += 1
            group = f"perfbench-{len(pass_walls)}-{name}"
            if tracer.enabled:
                with tracer.bookkeeping():
                    sc.setJobGroup(group, name)
            u0 = session_cpu_s(sid)
            lo = time.time()
            try:
                with tracer.span(f"registry.query:{name}"):
                    c0 = time.perf_counter()
                    with tracer.span(f"registry.call:{name}"):
                        df = fns[name](spark, args.sf_dir)
                    c1 = time.perf_counter()
                    with tracer.span(f"registry.action:{name}"):
                        df.write.format("noop").mode("overwrite").save()
                    c2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 — a failed call is data
                failed += 1
                log(f"query FAIL {name}: {str(e)[:300]}")
                continue
            hi = time.time()
            cpu_samples[name].append(session_cpu_s(sid) - u0)
            samples[name].append(c2 - c0)
            call_s += c1 - c0
            action_s += c2 - c1
            if tracer.enabled:
                with tracer.bookkeeping():
                    jobs = sc.statusTracker().getJobIdsForGroup(group)
                    add_exec(exec_total, exec_metrics(spark, jobs, lo, hi))
        pass_walls.append(time.perf_counter() - p0)
    timed_wall = time.perf_counter() - t_timed
    timed_builds = drain_memo_build_log()
    spark.stop()

    n_pass = len(pass_walls)
    log(f"{n_pass} timed passes: {[round(p, 3) for p in pass_walls]}")
    medians = entry_medians(samples)
    end_to_end = {
        "setup_s": setup_s,
        "pass_cpu_s": sum(entry_medians(cpu_samples).values()),
    }

    layers = {
        "wall.pass_s": sum(medians.values()),
        "session.get_spark_s": get_spark_s,
        "catalog.memo_builds": len(setup_builds),
        "catalog.memo_build_s": sum(b["seconds"] for b in setup_builds),
        "catalog.memo_builds_timed": len(timed_builds),
        "registry.call_s": call_s / n_pass,
        "registry.action_s": action_s / n_pass,
        "bench.trace_overhead_pct": 100.0 * tracer.overhead_s / timed_wall,
    }
    per_module = dict.fromkeys(OPERATOR_MODULES, 0.0)
    for name, m in medians.items():
        per_module[fns[name].__module__.rsplit(".", 1)[-1]] += m
    layers.update({f"operators.{m}.s": v for m, v in per_module.items()})
    layers.update({f"exec.{k}": v / n_pass for k, v in exec_total.items()})
    extra = {
        "passes": pass_walls,
        "samples": samples,
        "cpu_samples": cpu_samples,
        "memo_builds_setup": setup_builds,
        "memo_builds_timed": timed_builds,
    }
    return (
        {"correct": failed == 0, "attempted": attempted, "failed": failed,
         "metrics": end_to_end},
        layers,
        extra,
    )


# ------------------------------------------------------------------ live


def _land_backlog(rng, src: str, staging: str, tracer) -> dict[str, float]:
    """Land the catch-up backlog: ``ts`` spread over the hour before now,
    ascending across files, a share of rows dated before the jovens cutoff.
    Returns ``{file: landing time}``."""
    n = BACKLOG_FILES * BACKLOG_ROWS_PER_FILE
    now_us = int(time.time() * 1e6)
    ts = np.sort(rng.uniform(now_us - BACKLOG_SPAN_S * 1e6, now_us - 5e6, n))
    ts = ts.astype("int64")
    old = rng.random(n) < BACKLOG_PRE_CUTOFF
    ts[old] -= 400 * 86_400 * 1_000_000  # over a year back: before the cutoff
    table = generator.make_rows(rng, np.arange(n, dtype="int64"), ts)
    landed = {}
    for i in range(BACKLOG_FILES):
        part = table.slice(i * BACKLOG_ROWS_PER_FILE, BACKLOG_ROWS_PER_FILE)
        name = f"backlog-{i:04d}.parquet"
        t0 = time.time()
        landed[name] = generator.land(part, staging, src, name)
        tracer.add(f"land:{name}", t0, landed[name])
    return landed


def _landed_rows(src: str) -> dict[str, list]:
    """Every row in the source directory, with the file that landed it."""
    import pyarrow.parquet as pq

    rows: dict[str, list] = {"event_id": [], "ts_us": [], "value": [], "file": []}
    for name in sorted(os.listdir(src)):
        t = pq.read_table(os.path.join(src, name), columns=["event_id", "ts", "value"])
        rows["event_id"] += t.column("event_id").to_pylist()
        rows["ts_us"] += t.column("ts").cast("int64").to_pylist()
        rows["value"] += t.column("value").to_pylist()
        rows["file"] += [name] * t.num_rows
    return rows


def _query_logs(ckpt_root: str, q: str):
    """One query's (file → micro-batch, micro-batch → commit time)."""
    base = os.path.join(ckpt_root, q)
    return (
        file_batches(
            read_file_log(os.path.join(base, "sources", "0")),
            read_offsets(os.path.join(base, "offsets")),
        ),
        commit_times(os.path.join(base, "commits")),
    )


def _check_sinks(rows, jovens_out: str, idadecont_out: str, last_batch: int) -> set:
    """Files whose rows are wrong in a sink: a qualifying row missing from
    or repeated in the jovens sink, or counted wrong in idadecont."""
    import collections
    import datetime as dt

    import pyarrow.dataset as ds

    from kafka_exercise_spark.streaming.pipeline import JOVENS_STREAM_CUTOFF

    cutoff = dt.datetime.fromisoformat(JOVENS_STREAM_CUTOFF).replace(tzinfo=dt.UTC)
    cutoff_us = int(cutoff.timestamp() * 1e6)
    bad: set = set()
    by_id = dict(zip(rows["event_id"], rows["file"]))
    files = [
        os.path.join(jovens_out, f)
        for fs in read_file_log(os.path.join(jovens_out, "_spark_metadata")).values()
        for f in fs
    ]
    got = collections.Counter(
        ds.dataset(files, format="parquet").to_table(columns=["event_id"])
        .column("event_id").to_pylist()
    ) if files else collections.Counter()
    for eid, ts, f in zip(rows["event_id"], rows["ts_us"], rows["file"]):
        want = 1 if ts >= cutoff_us else 0
        if got.get(eid, 0) != want:
            bad.add(f)
    bad.update(by_id.get(eid) for eid in got if eid not in by_id)

    expected = collections.Counter()
    members = collections.defaultdict(set)
    for ts, v, f in zip(rows["ts_us"], rows["value"], rows["file"]):
        key = ("JOVEM" if v >= IDADE_CUTOFF_VALUE else "ADULTO", ts // 30_000_000 * 30)
        expected[key] += 1
        members[key].add(f)
    latest: dict = {}
    for name in os.listdir(idadecont_out):
        batch = int(name.removeprefix("batch="))
        if batch > last_batch:
            continue
        part_dir = os.path.join(idadecont_out, name)
        for part in os.listdir(part_dir):
            if not part.endswith(".json"):
                continue
            with open(os.path.join(part_dir, part)) as fh:
                for line in fh:
                    r = json.loads(line)
                    start = dt.datetime.fromisoformat(r["window_start"]).timestamp()
                    key = (r["idadecat"], int(start))
                    if batch >= latest.get(key, (-1, 0))[0]:
                        latest[key] = (batch, r["contagem"])
    for key in set(expected) | set(latest):
        if expected.get(key, 0) != latest.get(key, (0, 0))[1]:
            bad.update(members.get(key, ()))
            log(f"idadecont mismatch at {key}: want {expected.get(key, 0)}, "
                f"got {latest.get(key)}")
    return bad


def _sink_files(out: str, q: str, batches: range) -> int:
    if q == "jovens":
        log_ = read_file_log(os.path.join(out, "_spark_metadata"))
        return sum(len(log_.get(b, ())) for b in batches)
    n = 0
    for b in batches:
        d = os.path.join(out, f"batch={b}")
        if os.path.isdir(d):
            n += sum(1 for f in os.listdir(d) if f.endswith(".json"))
    return n


def run_live(args, tracer, t_start: float) -> tuple[dict, dict, dict]:
    from pyspark.sql.pandas.types import from_arrow_schema

    from kafka_exercise_spark.catalog import drain_memo_build_log
    from kafka_exercise_spark.streaming.pipeline import PipelineManager
    from kafka_exercise_spark.streaming.sources import file_stream
    from layers import exec_metrics, progress_metrics

    work = os.path.join(args.run_dir, "live")
    src, staging, ckpt = (os.path.join(work, d) for d in ("src", "staging", "ckpt"))
    outs = {q: os.path.join(work, f"sink_{q}") for q in ("jovens", "idadecont")}
    for d in (src, staging, ckpt):
        os.makedirs(d, exist_ok=True)
    spark, get_spark_s = start_session(tracer, args.run_dir)
    rng = np.random.default_rng(args.seed)
    landed = _land_backlog(rng, src, staging, tracer)
    n_backlog = len(landed)
    setup_s = time.time() - t_start

    # Catch-up: the queries start over the landed backlog and drain it.
    mgr = PipelineManager(spark, ckpt)
    events = file_stream(
        spark, src, from_arrow_schema(generator.SCHEMA), max_files_per_trigger=None
    )
    sid = os.getsid(0)
    u0 = session_cpu_s(sid)
    q0 = time.time()
    with tracer.span("PipelineManager.start_jovens"):
        jq = mgr.start_jovens(events, outs["jovens"])
    with tracer.span("PipelineManager.start_idadecont"):
        iq = mgr.start_idadecont(events, outs["idadecont"])
    queries = {"jovens": jq, "idadecont": iq}
    with tracer.span("catchup.drain"):
        jq.processAllAvailable()
        iq.processAllAvailable()
    catchup_cpu_s = session_cpu_s(sid) - u0
    logs = {q: _query_logs(ckpt, q) for q in queries}
    lat = join_latency(landed, list(logs.values()))
    if any(v is None for v in lat.values()):
        raise InvalidRun("backlog not committed after processAllAvailable")
    catchup_s = max(landed[f] + lat[f] for f in lat) - q0
    catch_last = {q: max(logs[q][1]) for q in queries}
    progress = {}
    if tracer.enabled:
        with tracer.bookkeeping():
            progress = {q: list(sq.recentProgress) for q, sq in queries.items()}

    # Steady: the generator process lands files on its own schedule.
    n_warm = int(STEADY_WARM_S * STEADY_RATE)
    n_steady = n_warm + int(args.seconds * STEADY_RATE)
    gen_log = os.path.join(work, "landings.json")
    gen = subprocess.Popen([
        sys.executable, os.path.join(HERE, "generator.py"), "--src", src,
        "--staging", staging, "--log", gen_log, "--seed", str(args.seed),
        "--rate", str(STEADY_RATE), "--count", str(n_steady),
    ])
    try:
        gen.wait(timeout=n_steady / STEADY_RATE + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise InvalidRun(f"generator exited with {gen.returncode}")
    with open(gen_log) as f:
        steady = json.load(f)
    for rec in steady:
        landed[rec["file"]] = rec["landed"]
        tracer.add(f"land:{rec['file']}", rec["created"], rec["landed"])
    deadline = max(landed.values()) + DRAIN_S
    while True:
        logs = {q: _query_logs(ckpt, q) for q in queries}
        lat = join_latency(landed, list(logs.values()))
        if all(v is not None for v in lat.values()) or time.time() > deadline:
            break
        time.sleep(POLL_S)
    t_end = time.time()
    if tracer.enabled:
        with tracer.bookkeeping():
            for q, sq in queries.items():
                seen = {p.batchId for p in progress[q]}
                progress[q] += [p for p in sq.recentProgress if p.batchId not in seen]
            tracker = spark.sparkContext.statusTracker()
            jobs = [
                j for sq in queries.values()
                for j in tracker.getJobIdsForGroup(str(sq.runId))
            ]
            exec_total = exec_metrics(spark, jobs, q0, t_end)
    with tracer.span("PipelineManager.stop_all"):
        mgr.stop_all()
    memo_builds = drain_memo_build_log()
    last_batch = max(logs["idadecont"][1], default=-1)

    # Checks: every landed file committed by both queries, every row right.
    bad = {f for f, v in lat.items() if v is None}
    bad |= _check_sinks(_landed_rows(src), outs["jovens"], outs["idadecont"], last_batch)
    spark.stop()

    late = [rec["created"] - rec["due"] for rec in steady]
    if max(late) > 1.0 / STEADY_RATE:
        raise InvalidRun(
            f"generator fell behind by {max(late) * 1e3:.1f} ms "
            f"(> one {1e3 / STEADY_RATE:.0f} ms tick)"
        )
    measured = [r["file"] for r in steady[n_warm:]]
    steady_lat = [lat[f] for f in measured if lat[f] is not None]
    log(f"catch-up {catchup_s:.3f} s for {n_backlog} files; "
        f"{len(steady_lat)}/{len(measured)} measured steady files committed, "
        f"{samples_beyond(len(steady_lat), 0.75)} beyond the p75")
    end_to_end = {"setup_s": setup_s, "pass_cpu_s": catchup_cpu_s}

    backlog = backlog_counts(
        [(landed[r["file"]],
          float("inf") if lat[r["file"]] is None else landed[r["file"]] + lat[r["file"]])
         for r in steady],
        landed[measured[0]], landed[measured[-1]], POLL_S,
    )
    layers = {
        "wall.pass_s": catchup_s,
        "session.get_spark_s": get_spark_s,
        "catalog.memo_builds": len(memo_builds),
        "catalog.memo_build_s": sum(b["seconds"] for b in memo_builds),
        "sources.backlog_files_p95": percentile(backlog, 0.95),
        "sources.backlog_files_max": max(backlog),
        "bench.gen_late_p99_ms": percentile(late, 0.99) * 1e3,
        "bench.trace_overhead_pct": 100.0 * tracer.overhead_s / (t_end - q0),
    }
    if steady_lat:
        ms = [x * 1e3 for x in steady_lat]
        layers["streaming.latency_p50_ms"] = statistics.median(ms)
        layers["streaming.latency_p75_ms"] = percentile(ms, 0.75)
    if tracer.enabled:
        layers.update({f"exec.{k}": v for k, v in exec_total.items()})
        for q in queries:
            last = max(logs[q][1], default=-1)
            # warm-up batches belong to neither phase
            first = logs[q][0].get(measured[0], last + 1)
            ranges = {"catchup": (0, catch_last[q]), "steady": (first, last)}
            for phase, (a, b) in ranges.items():
                pm = progress_metrics(progress[q], a, b)
                for k in ("batches", *STREAM_MS):
                    layers[f"streaming.{q}.{phase}.{k}"] = pm[k]
                if q == "idadecont":
                    layers[f"state.idadecont.{phase}.commit_ms_p50"] = pm["state_commit_ms_p50"]
                    layers[f"state.idadecont.{phase}.rows_total_max"] = pm["state_rows_total_max"]
                    layers[f"state.idadecont.{phase}.memory_bytes_max"] = pm["state_memory_bytes_max"]
                layers[f"sinks.{q}.{phase}.files"] = _sink_files(outs[q], q, range(a, b + 1))
    extra = {
        "catchup_rows_per_s": BACKLOG_FILES * BACKLOG_ROWS_PER_FILE / catchup_s,
        "steady_warm_files": n_warm,
        "steady_latency_s": [lat[r["file"]] for r in steady],
        "generator": steady,
        "backlog_samples": backlog,
    }
    attempted = len(landed)
    return (
        {"correct": not bad, "attempted": attempted, "failed": len(bad),
         "metrics": end_to_end},
        layers,
        extra,
    )


def main() -> int:
    p = argparse.ArgumentParser(description="one perfbench run (see run.py)")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--t0", type=float, required=True, help="process start, epoch s")
    p.add_argument("--run-dir", required=True)
    p.add_argument("--sf-dir", default="")
    p.add_argument("--oracles", default="{}", help="JSON {entry: oracle pickle}")
    p.add_argument("--trace-file", required=True)
    p.add_argument("--canary", default="{}", help="JSON host canary record")
    args = p.parse_args()

    from layers import Tracer

    tracer = Tracer(f"{args.workload}-seed{args.seed}", enabled=bool(args.trace))
    runner = run_live if args.workload == "live_reference" else run_registry
    try:
        result, layers, extra = runner(args, tracer, args.t0)
    except InvalidRun as e:
        log(f"invalid run: {e}")
        return 3
    tracer.write(args.trace_file, {
        "result": result, "layers": layers, "canary": json.loads(args.canary),
        **extra,
    })
    if args.trace:
        result["metrics"] = layers
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
