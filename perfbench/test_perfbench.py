"""Self-tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402
from stats import (  # noqa: E402
    backlog_counts, commit_times, entry_medians, file_batches, join_latency,
    percentile, read_file_log, read_offsets, samples_beyond, union_length,
)

# ------------------------------------------------------------ percentiles


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert percentile(values, 0.5) == 50
    assert percentile(values, 0.95) == 95
    assert percentile(values, 1.0) == 100
    assert percentile([7.0], 0.95) == 7.0
    assert percentile([3, 1, 2], 0.5) == 2  # order of input does not matter


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile([1.0], 0.0)


def test_samples_beyond_a_percentile():
    assert samples_beyond(200, 0.95) == 10
    assert samples_beyond(199, 0.95) == 9
    assert samples_beyond(100, 0.9) == 10
    assert samples_beyond(1, 0.5) == 0


def test_live_steady_phase_supports_its_tail_percentile():
    import worker

    # only files landed after the steady warm-up are measured
    n = int(spec.RUN_SECONDS * worker.STEADY_RATE)
    assert samples_beyond(n, 0.75) >= 10


def test_registry_pass_rests_on_per_entry_medians():
    import worker

    # each entry's median leaves out its slowest call
    assert worker.timed_passes(spec.RUN_SECONDS) >= 3


def test_entry_medians():
    samples = {"a": [3.0, 1.0, 2.0], "b": [5.0, 4.0, 9.0], "c": []}
    assert entry_medians(samples) == {"a": 2.0, "b": 5.0}


# ------------------------------------------------------ stage-interval union


@pytest.mark.parametrize(
    "intervals, lo, hi, want",
    [
        ([], 0, 10, 0.0),
        ([(1, 3), (5, 6)], 0, 10, 3.0),  # disjoint
        ([(1, 4), (2, 6)], 0, 10, 5.0),  # overlapping
        ([(1, 9), (2, 3), (4, 5)], 0, 10, 8.0),  # nested
        ([(1, 2), (2, 3)], 0, 10, 2.0),  # touching
        ([(-5, 2), (8, 20)], 0, 10, 4.0),  # clipped to the call window
        ([(11, 12), (-3, -1)], 0, 10, 0.0),  # wholly outside
    ],
)
def test_union_length(intervals, lo, hi, want):
    assert union_length(intervals, lo, hi) == pytest.approx(want)


def test_outside_stage_time_is_wall_minus_union():
    # a 10 s call whose three stages overlap: 2 s of it ran no stage
    stages = [(100.0, 104.0), (103.0, 106.0), (107.0, 110.0)]
    in_stage = union_length(stages, 100.0, 110.0)
    assert in_stage == pytest.approx(9.0)
    assert (110.0 - 100.0) - in_stage == pytest.approx(1.0)


# ------------------------------------------------- file → batch → commit


def _write_log(path, name, entries):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _write_offset(path, batch, log_offset):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, str(batch)), "w") as f:
        f.write('v1\n{"batchWatermarkMs":0}\n' + json.dumps({"logOffset": log_offset}))


def _write_commit(path, batch, t):
    os.makedirs(path, exist_ok=True)
    p = os.path.join(path, str(batch))
    with open(p, "w") as f:
        f.write("v1\n{}")
    os.utime(p, (t, t))


def _src(i):
    return {"path": f"file:///data/src/f{i}.parquet", "timestamp": 0, "batchId": i}


def test_source_log_reads_compacted_entries_once(tmp_path):
    log = tmp_path / "sources" / "0"
    _write_log(log, "0", [_src(0)])
    _write_log(log, "1", [_src(1)])
    _write_log(log, "1.compact", [_src(0), _src(1)])  # compaction repeats 0
    _write_log(log, "2", [_src(2)])
    assert read_file_log(str(log)) == {
        0: ["f0.parquet"], 1: ["f1.parquet"], 2: ["f2.parquet"],
    }


def test_sink_log_without_batch_ids_is_not_double_counted(tmp_path):
    log = tmp_path / "_spark_metadata"
    sink = [{"path": f"file:///out/p{i}.parquet", "action": "add"} for i in range(3)]
    _write_log(log, "0", sink[:2])
    _write_log(log, "1.compact", sink)  # compacted log: no per-entry batch id
    got = read_file_log(str(log))
    assert got == {0: ["p0.parquet", "p1.parquet"], 1: ["p2.parquet"]}


def test_latency_join_follows_offsets_across_no_data_batches(tmp_path):
    """Micro-batch ids and file-source log ids diverge after a no-data
    batch: batch 1 reads nothing, so source log id 1 is read by batch 2."""
    q = tmp_path / "ckpt"
    _write_log(q / "sources" / "0", "0", [_src(0)])
    _write_log(q / "sources" / "0", "1", [_src(1)])
    for batch, off in ((0, 0), (1, 0), (2, 1)):
        _write_offset(q / "offsets", batch, off)
    for batch, t in ((0, 1000.5), (1, 1001.0), (2, 1003.0)):
        _write_commit(q / "commits", batch, t)

    batch_of = file_batches(
        read_file_log(str(q / "sources" / "0")), read_offsets(str(q / "offsets"))
    )
    assert batch_of == {"f0.parquet": 0, "f1.parquet": 2}
    commits = commit_times(str(q / "commits"))
    landed = {"f0.parquet": 1000.0, "f1.parquet": 1002.0, "f9.parquet": 1002.5}
    lat = join_latency(landed, [(batch_of, commits)])
    assert lat["f0.parquet"] == pytest.approx(0.5)
    assert lat["f1.parquet"] == pytest.approx(1.0)
    assert lat["f9.parquet"] is None  # landed, never read: uncommitted


def test_latency_is_set_by_the_later_query():
    landed = {"a": 10.0, "b": 11.0}
    fast = ({"a": 0, "b": 1}, {0: 10.2, 1: 11.3})
    slow = ({"a": 0, "b": 1}, {0: 10.8})  # b's batch not committed yet
    lat = join_latency(landed, [fast, slow])
    assert lat["a"] == pytest.approx(0.8)
    assert lat["b"] is None


def test_backlog_counts_open_spans():
    spans = [(0.0, 1.0), (0.5, 2.0), (1.5, float("inf"))]
    assert backlog_counts(spans, 0.0, 2.0, 0.5) == [1, 2, 1, 2, 1]


# ------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_matches_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        assert json.load(f) == spec.benchmark()


def test_benchmark_json_is_well_formed():
    b = spec.benchmark()
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16
    assert 1 <= len(b["per_layer"]) <= 128
    assert 1 <= b["run_seconds"] <= 60
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in b[k]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    for w in b["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"] + b["per_layer"]:
        assert unit.match(m["unit"]) and m["better"] in ("higher", "lower")
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
