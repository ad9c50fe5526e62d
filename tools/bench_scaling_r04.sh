#!/bin/bash
# Round-4 scaling-attribution suite (verdict items #3, #6). Run
# DETACHED from a repo snapshot so live edits can't leak into workers:
#   rsync -a --exclude .git /root/repo/ /tmp/benchsnap4/
#   cd /tmp/benchsnap4 && setsid nohup bash tools/bench_scaling_r04.sh \
#       > /tmp/scaling_r04_suite.log 2>&1 &
#
# Phases (each appends JSON lines to its own log under /tmp; letters
# match BENCH.md's round-4 write-up):
#  A. prescribed 8->32 pair, PINNED cpuset (taskset 0..N-1) +
#     bandwidth-normalized (membw probe at each width, same cpuset,
#     before AND after the samples): raw efficiency AND URLs/s-per-GB/s
#     efficiency side by side — the round-3 verdict's exact ask.
#  C. politeness-under-real-I/O grid (localhost many-vhost server,
#     server-side arrival timestamps, budget-compliance check).
#  D. membw curve (host-bandwidth context for A).
set -u
cd "$(dirname "$0")/.."

echo "=== phase A: pinned + bandwidth-normalized 8->32 pair ==="
BENCH_SCALING_PAIRS=8:32 BENCH_SCALING_SAMPLES=3 \
BENCH_SCALING_KINDS=kernel,engine BENCH_ENGINE_FP=1 \
BENCH_PIN_CPUS=1 BENCH_BW_NORMALIZE=1 \
  python bench.py --scaling 2>/tmp/scaling_r04_A.err | tee /tmp/scaling_r04_A.log

echo "=== phase C: politeness grid ==="
python tools/bench_politeness.py 2>/tmp/scaling_r04_C.err | tee /tmp/scaling_r04_C.log

echo "=== phase D: membw curve ==="
python tools/membw.py 1 2 4 8 16 24 32 2>/tmp/scaling_r04_D.err \
  | tee /tmp/scaling_r04_D.log

echo "=== suite done ==="
