#!/usr/bin/env bash
# One-command round validation: the full battery the verify skill describes.
# Usage: bash tools/roundcheck.sh
# Runs every stage, prints a per-stage verdict, exits non-zero if ANY
# stage failed. pipefail is load-bearing: without it the `| tail` pipes
# would swallow the tools' exit codes.
set -u -o pipefail
cd "$(dirname "$0")/.."
fail=0
stage() { echo "=== $1"; }

stage "pytest (full suite, Tier-1 environment)"
SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
    python -m pytest tests/ -q || fail=1

stage "perfbench self-tests"
python3 -m pytest perfbench -q || fail=1

stage "live pipeline (perfbench live_reference: every row exactly once in both sinks)"
python3 perfbench/run.py --workload live_reference --seed 1 --seconds 20 --trace 0 \
    | tail -1 | python3 -c "import json, sys; r = json.loads(sys.stdin.read()); print(r); sys.exit(r['failed'] != 0)" \
    || fail=1

stage "oracle sweep sf0.01 (the driver gate, emulated)"
python tools/verify_local.py /root/testdata/sf0.01 | tail -3 || fail=1

stage "oracle sweep sf0.1 (scale-robustness)"
python tools/verify_local.py /root/testdata/sf0.1 | tail -3 || fail=1

stage "bench (writes bench_results.json; compare vs BENCH_r*.json)"
python -c "from tools.host_canary import gate_or_warn; gate_or_warn('bench')" || fail=1
python bench.py | tail -1 || fail=1

stage "plan report (rewrites PLANS.md; diff before committing)"
python tools/plan_report.py | tail -1 || fail=1

[ "$fail" -eq 0 ] && echo "ROUNDCHECK: ALL STAGES GREEN" || echo "ROUNDCHECK: FAILURES ABOVE"
exit $fail
