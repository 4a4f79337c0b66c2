"""Parallelism-independence fence: hash-deterministic operators must
produce IDENTICAL values under a different thread count and shuffle
partitioning.

The repo's sampling/selection design claims every decision is a pure
function of (salt, key) — reproducible across reruns, partitionings and
cluster sizes (sampling.py module docstring). This test pins that claim
mechanically: a SUBPROCESS SparkSession at local[3] with 3 shuffle
partitions recomputes a representative window-heavy subset (the shapes
where partitioning could plausibly leak into results: per-partition
windows, cumulative fills, hash draws) and the sorted-row digest must
equal the session fixture's (local[32]-configured, 8 shuffle
partitions). A flake here means some operator picked up partition order
— exactly the bug class the hash-bucket design exists to prevent.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Window/cumsum/draw-heavy entries — the partitioning-sensitive shapes.
ENTRIES = (
    "global_shuffle",
    "token_budget_select",
    "token_budget_weighted",
    "weighted_sample_topn",
)

_SUBPROC_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[2])
    from tests.test_parallelism_independence import digest_entries
    print("DIGESTS:" + json.dumps(digest_entries(sf_dir=sys.argv[1])))
    """
)


def digest_entries(sf_dir: str, spark=None) -> dict:
    """Sorted-row sha256 per entry, engine-side row formatting."""
    import __spark_entry__ as entrymod  # noqa: PLC0415

    if spark is None:
        from kafka_exercise_spark.session import get_spark  # noqa: PLC0415

        spark = get_spark("parallelism_fence", shuffle_partitions=3)
    q = entrymod.queries()
    out = {}
    for name in ENTRIES:
        rows = q[name](spark, sf_dir).collect()
        lines = sorted(repr(tuple(r)) for r in rows)
        out[name] = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return out


def test_results_identical_across_thread_counts(spark, sf_dir):
    here = digest_entries(sf_dir, spark=spark)
    env = dict(os.environ, SPARK_GRAFT_CPUS="3")
    # a distinct warehouse dir so the subprocess's derby/warehouse state
    # can't collide with the fixture session's
    env["SPARK_GRAFT_WAREHOUSE"] = "/tmp/spark_graft_wh_par_fence"
    proc = subprocess.run(
        [sys.executable, "-c", _SUBPROC_SCRIPT, sf_dir, ROOT],
        capture_output=True,
        text=True,
        timeout=480,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("DIGESTS:")
    )
    there = json.loads(line[len("DIGESTS:"):])
    assert there == here
