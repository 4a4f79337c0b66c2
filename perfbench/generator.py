"""Open-loop landing generator for the ``live_reference`` workload.

Run as its own single-threaded process. It lands one events-shaped row per
parquet file on a seeded schedule: file ``i`` is due at a uniformly drawn
point of its own slot, ``start + (i + u_i) / rate`` with ``u_i`` in
``[0, 1)``. The rate is exact, but arrivals do not keep one phase against
the engine's micro-batch cycle, so each run samples every phase. Each file
is written to a staging directory and moved into the source directory with
an atomic rename, so the stream never lists a partial file. A row's ``ts``
is its creation time. The schedule never waits on the system: a late file
is written at once and the next keeps its own due time. The landing log (due, landed and file name per file) is
written as JSON when the run ends.

    python3 perfbench/generator.py --src DIR --staging DIR --log FILE \
        --seed N --rate 1 --count 25
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seconds from the end of the generator's set-up to its first due time.
LEAD_S = 0.2
#: Event id of the first landed row, clear of the catch-up backlog's ids.
FIRST_ID = 1_000_000
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def make_rows(
    rng: np.random.Generator, event_ids: np.ndarray, ts_us: np.ndarray
) -> pa.Table:
    """Events-shaped rows with the given ids and timestamps (epoch µs)."""
    n = len(event_ids)
    return pa.table({
        "event_id": pa.array(event_ids, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }, schema=SCHEMA)


def land(table: pa.Table, staging: str, src: str, name: str) -> float:
    """Write ``table`` under ``staging`` and rename it into ``src``; return
    the time of the rename."""
    tmp = os.path.join(staging, name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(src, name))
    return time.time()


def run(args: argparse.Namespace) -> list[dict]:
    rng = np.random.default_rng(args.seed)
    # One throwaway write first, so the schedule does not pay lazy set-up.
    warm = make_rows(rng, np.array([0]), np.array([0]))
    pq.write_table(warm, os.path.join(args.staging, "warm.parquet"))
    os.remove(os.path.join(args.staging, "warm.parquet"))
    offsets = rng.random(args.count)
    start = time.time() + LEAD_S
    log = []
    for i in range(args.count):
        due = start + (i + offsets[i]) / args.rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        created = time.time()
        row = make_rows(
            rng, np.array([FIRST_ID + i]), np.array([int(created * 1e6)])
        )
        name = f"steady-{i:06d}.parquet"
        landed = land(row, args.staging, args.src, name)
        log.append({"file": name, "due": due, "created": created, "landed": landed})
    return log


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--src", required=True)
    p.add_argument("--staging", required=True)
    p.add_argument("--log", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=float, required=True, help="files per second")
    p.add_argument("--count", type=int, required=True)
    args = p.parse_args()
    log = run(args)
    with open(args.log, "w") as f:
        json.dump(log, f)


if __name__ == "__main__":
    main()
