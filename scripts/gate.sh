#!/usr/bin/env bash
# Full pre-round gate: unit tests, oracle compare at two SFs, smoke, and
# the partition-invariance replay. Every step's exit code is load-bearing
# (pipefail — a failing suite or oracle compare fails the gate even through
# the tail), and the smoke step asserts `Dev smoke`'s terminal success
# marker, not a nonzero line count a partial run could satisfy.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch test 2>&1 | tail -3
python3 scripts/check.py /root/testdata/sf0.01 /tmp/gate_sf001 | tail -1
python3 scripts/check.py /root/testdata/sf0.001 /tmp/gate_sf0001 | tail -1
SPARK_GRAFT_CPUS=7 sbt --batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_p7" >/dev/null 2>&1
python3 scripts/check.py /root/testdata/sf0.01 /tmp/gate_p7 --no-run | tail -1
sbt --batch "runMain graft.Dev smoke" 2>&1 | grep -F '[smoke] ALL OK'
# Bench regression table (advisory): if a fresh sweep was taken into
# bench_out_new.json, diff it against the committed previous-round
# bench_out.json and flag >1.5x warm-time regressions. Skipped when no
# fresh sweep exists (the full sweep is minutes; run it explicitly:
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
#     sbt "runMain graft.Bench" ... > bench JSON -> bench_out_new.json).
if [[ -f bench_out_new.json ]]; then
  # HARD check (r12 verdict #8): probe-normalized warm-time regressions
  # >2x fail the gate. The probe normalization makes a noisy-box sweep
  # pass (both sides slow together) while a real plan regression fails.
  python3 scripts/bench_diff.py bench_out.json bench_out_new.json \
    --threshold 2.0 --fail
fi
