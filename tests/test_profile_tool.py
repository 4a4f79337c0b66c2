"""``tools/profile.py`` end to end, in its own interpreter and session."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
TOOL = REPO / "tools" / "profile.py"
SF = "/root/testdata/sf0.001"
CONF = "spark.sql.codegen.cache.maxEntries"


def _run(*args: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE="/tmp/spark_graft_wh_profile_tool")
    # a trending host must not turn this functional check into a refusal
    env.pop("SPARK_GRAFT_CANARY_STRICT", None)
    return subprocess.run(
        [sys.executable, str(TOOL), *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=480,
        env=env,
    )


def test_profile_passes_plans_conf_and_stream_progress(tmp_path):
    proc = _run(
        "--sf", SF, "--passes", "2", "--plans", str(tmp_path),
        "--conf", f"{CONF}=100", "jovens", "streaming_idadecont_replay",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]
    *records, summary = lines
    by_query = {r["query"]: r for r in records}
    assert set(by_query) == {"jovens", "streaming_idadecont_replay"}
    for rec in records:
        assert len(rec["samples"]) == 2 and min(rec["samples"]) > 0
        assert rec["plan"] is not None
    assert len(summary["pass_totals_s"]) == 2
    assert summary["conf"] == {CONF: "100"}
    assert "trending_up" in summary["host_canary"]
    assert (tmp_path / "jovens.txt").read_text().strip()
    # the replay re-runs its StreamExecution every pass; the listener
    # saw each run to termination with its micro-batch breakdown
    runs = by_query["streaming_idadecont_replay"]["streams"]
    assert [r["pass"] for r in runs] == [0, 1]
    assert all(r["terminated"] for r in runs)
    assert any("addBatch" in b["durationMs"] for r in runs for b in r["batches"])
    assert by_query["jovens"]["streams"] == []


def test_profile_rejects_unknown_query():
    proc = _run("--sf", SF, "no_such_query")
    assert proc.returncode == 2
    assert "no_such_query" in proc.stderr


def test_tools_dir_on_path_keeps_stdlib_profile():
    """tools/ on sys.path (any ``python tools/<x>.py``) must not hand
    pyspark's cProfile this script in place of the stdlib module."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "import pyspark, cProfile, profile\n"
        "assert profile.Profile and cProfile.run, profile\n"
        "print(profile.__file__)\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, str(TOOL.parent)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert pathlib.Path(proc.stdout.strip()).parent != TOOL.parent
