#!/bin/sh
# Round gate: the full local replica of everything the grading driver
# checks, plus the cross-geometry sweeps that catch partitioning-order-
# dependent arithmetic before the driver does. Run before ending a round:
#
#     sh tools/ci_check.sh
#
# 0. Whisper-store tests alone (format, scan, writer, stream source): a
#    format regression fails here within minutes, before the full suite;
#    then one traced render_small_tree benchmark run, which must check
#    every request's output and run every per-layer probe ("failed": 0)
# 1. pytest suite
# 2. oracle sweep at the driver-like local[8]/8-shuffle geometry
# 3. oracle sweep at local[3]/3-shuffle (odd parallelism flushes out
#    anything that accidentally depends on partition count)
# 4. stale-record re-check: the 20 entries whose latest DRIVER record is
#    oldest, re-run at a third geometry (local[5]/5) with names printed —
#    so a silent regression in untouched code can't outlive a round even
#    if the driver's bounded sweep hasn't cycled back to it (VERDICT r8
#    task #2)
set -e
cd "$(dirname "$0")/.."
python -m pytest -q tests/test_whisper_source.py tests/test_whisper_write.py \
    tests/test_streaming.py tests/test_reference_fixture.py
python3 perfbench/run.py --workload render_small_tree --seed 1 --seconds 5 --trace 1 \
    | tail -1 | grep -q '"failed": 0,'
python -m pytest tests/ -q
python tools/oracle_check.py
ORACLE_MASTER='local[3]' ORACLE_SHUFFLE=3 python tools/oracle_check.py
python tools/stale_recheck.py 20
echo "ci_check: all green"
