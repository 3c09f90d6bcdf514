#!/bin/sh
# Merge gate: full pytest suite + ALL registered queries vs the DuckDB
# oracle (the driver only re-checks a 50-entry window per round; this
# covers everything, including demoted/rotated-out queries).
#
# The oracle pass runs at BOTH sf0.01 (fast, the driver's scale) and
# sf0.1 (the bench scale) — a scale-dependent wrong answer (overflow,
# auto-derived parameter divergence, sampling-threshold edge) would
# pass every sf0.01 check and only surface at volume (r5 VERDICT
# "What's missing" #3).  Pass explicit sf dirs to override:
#   tools/gate.sh /root/testdata/sf0.01 /root/testdata/sf0.1
set -e
cd "$(dirname "$0")/.."
# Perf-gate freshness first: test_perf_gate SKIPS on stale
# expectations (correct inside pytest), so the gate itself must fail
# loudly instead of passing with the perf gate silently disabled.
python tools/check_bench_fresh.py
# -m "" overrides pytest.ini's default "not slow": the gate runs the
# whole suite, including the perf gate, crash-fuzz strides and stress.
python -m pytest tests/ -m "" -q
python tools/check_correctness.py "${1:-/root/testdata/sf0.01}"
python tools/check_correctness.py "${2:-/root/testdata/sf0.1}"
