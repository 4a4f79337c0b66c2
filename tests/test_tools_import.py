"""Every script under ``tools/`` must still import.

The tools reach into package internals (``catalog``, ``stateful``, the
operator modules), and nothing else exercises them between the rounds
that run them. Each import runs in its own interpreter, so no tool's
import-time state leaks into this session.
"""

from __future__ import annotations

import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
TOOLS = sorted((REPO / "tools").glob("*.py"))

_IMPORT = (
    "import importlib.util, sys\n"
    "spec = importlib.util.spec_from_file_location('tool_under_test', sys.argv[1])\n"
    "spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
)


def test_tools_are_found():
    assert [p.stem for p in TOOLS] == [
        "host_canary", "plan_report", "profile", "scale_experiment", "verify_local",
    ]


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_imports(path):
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT, str(path)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
