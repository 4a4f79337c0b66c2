"""Benchmark entry point: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload registry_heavy --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run of any workload builds what the
registry workload reads (its tables and their DuckDB oracle results) under
``$CARGO_TARGET_DIR/perfbench`` (default ``.bench_build/perfbench``), fixes
the host settings, records the host canary, runs ``worker.py`` in a fresh
process while sampling its memory, and prints as the last line of standard
output ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. Spans
and raw samples go to ``traces/`` in the build directory.

Exits non-zero, printing no result, when the repository is absent, the run
fails, or the run is invalid (see worker.py).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import spec  # noqa: E402

#: Registry input: one seeded table set at this scale, built once.
DATA_SF = 0.01
DATA_SEED = 42
DATA_VERSION = 1
WORKER_TIMEOUT_S = 150
RSS_SAMPLE_S = 0.2


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def build_dir() -> str:
    return os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"
    )


def ensure_data(build: str) -> str:
    """The registry tables; generated on first use."""
    import datagen

    data = os.path.join(build, f"data-sf{DATA_SF}-seed{DATA_SEED}-v{DATA_VERSION}")
    if not os.path.isdir(data):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.make_tables(tmp, DATA_SF, DATA_SEED)
        os.rename(tmp, data)
    return data


def ensure_oracles(build: str, data: str, names: tuple[str, ...]) -> dict[str, str]:
    """DuckDB results of each entry's ``oracle_sql()`` twin over ``data``,
    cached per version of ``__spark_entry__.py``; returns
    ``{entry: pickle path}``."""
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as f:
        key = hashlib.sha256(f.read() + data.encode()).hexdigest()[:16]
    out_dir = os.path.join(build, f"oracles-{key}")
    paths = {name: os.path.join(out_dir, f"{name}.pkl") for name in names}
    missing = [n for n, p in paths.items() if not os.path.exists(p)]
    if missing:
        import __spark_entry__ as entrymod
        from verify_local import duck_connection

        os.makedirs(out_dir, exist_ok=True)
        sqls = entrymod.oracle_sql()
        con = duck_connection(data)
        for name in missing:
            con.execute(sqls[name]).fetchdf().to_pickle(paths[name] + ".tmp")
            os.rename(paths[name] + ".tmp", paths[name])
    return paths


def _session_stats(sid: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name (state first) of
    every process in session ``sid``."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            out[int(p)] = fields
    return out


def _session_pids(sid: int) -> list[int]:
    return list(_session_stats(sid))


def session_cpu_s(sid: int) -> float:
    """CPU seconds, user plus system, that the processes of session ``sid``
    and their reaped children have used. Time the hypervisor gives to other
    guests is not in it."""
    ticks = sum(
        int(x) for fields in _session_stats(sid).values() for x in fields[11:15]
    )
    return ticks / os.sysconf("SC_CLK_TCK")


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cpu_times() -> list[int]:
    """The host's cumulative CPU times (``/proc/stat``): user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class RssSampler(threading.Thread):
    """Peak of (worker's Python driver + its Spark JVM) resident memory."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0.0
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.wait(RSS_SAMPLE_S):
            jvm = sum(_rss_mb(p) for p in _session_pids(self.pid) if _is_java(p))
            self.peak = max(self.peak, _rss_mb(self.pid) + jvm)


def _reap(sid: int) -> None:
    """Stop whatever the worker left running in its session, and wait."""
    deadline = time.time() + 15
    sig = signal.SIGTERM
    while True:
        pids = _session_pids(sid)
        if not pids:
            return
        if time.time() > deadline - 5:
            sig = signal.SIGKILL
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        if time.time() > deadline:
            raise RuntimeError(f"processes {pids} did not stop")
        time.sleep(0.2)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument(
        "--cpus", type=int, default=len(os.sched_getaffinity(0)),
        help="Spark task slots (default: this host's usable cores)",
    )
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        log(f"no engine under {ROOT}: run from a checkout of the repository")
        return 2
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]
    from host_canary import run_canary

    build = build_dir()
    # Built by the first run of any workload, so no later run pays for it.
    data = ensure_data(build)
    oracles = ensure_oracles(build, data, sum(spec.REGISTRY.values(), ()))

    # Temp dirs of earlier runs that were killed before they could clean up.
    os.makedirs(build, exist_ok=True)
    for name in os.listdir(build):
        pid = name.removeprefix("run-")
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(build, name), ignore_errors=True)
    run_dir = os.path.join(build, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local")):
        os.makedirs(d)
    traces = os.path.join(build, "traces")
    os.makedirs(traces, exist_ok=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(args.cpus),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    canary = run_canary()
    trace_file = os.path.join(
        traces, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    cpu0 = _cpu_times()
    t0 = time.time()
    proc = subprocess.Popen(
        [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--t0", repr(t0), "--run-dir", run_dir, "--sf-dir", data,
            "--oracles", json.dumps(oracles), "--trace-file", trace_file,
            "--canary", json.dumps(canary),
        ],
        cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"worker exceeded {WORKER_TIMEOUT_S} s")
        proc.kill()
        proc.wait()
    finally:
        sampler.stop.set()
        sampler.join()
        _reap(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
    # time the hypervisor gave to other guests: it slows every phase of a run
    steal_pct = 100.0 * cpu[7] / max(1, sum(cpu[:8])) if len(cpu) > 7 else 0.0
    log(f"host CPU steal {steal_pct:.2f}% during the run")
    if proc.returncode != 0:
        log(f"worker exited with {proc.returncode}")
        return 1
    result = json.loads(out.strip().splitlines()[-1])
    if args.trace:
        units = {n: u for n, (u, _) in spec.PER_LAYER.items()}
        # a layer this workload does not exercise reads 0
        values = dict.fromkeys(units, 0) | result["metrics"]
        values["bench.peak_rss_mb"] = sampler.peak
        values["bench.host_steal_pct"] = steal_pct
    else:
        units = {n: u for n, (u, _, _) in spec.END_TO_END.items()}
        values = result["metrics"]
    if set(values) != set(units):
        log(f"metric set mismatch: {sorted(set(values) ^ set(units))}")
        return 1
    result["metrics"] = {n: {"value": values[n], "unit": units[n]} for n in units}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
