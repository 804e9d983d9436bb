#!/bin/bash
# Round-6 scaling campaign (BENCH/BASELINE.md §2): same boot, same
# per-core-heap protocol (see lib_scaling_leg.sh), alternating a pure-CPU
# (no-shuffle) control pair with the single-shuffle engine pair so host
# drift hits both equally — the control is the boot's scaling ceiling,
# measured beside the data. The round-6 legacy per-commit-shuffle arm is
# gone from the engine; its recorded results stay in BASELINE.md.
# Appends to OUT (accumulating campaign file).
#
# Usage: run_scaling_ab_r06.sh [iterations] [out.jsonl]
set -u
cd /root/repo
ITERS="${1:-3}"
OUT="${2:-/root/repo/BENCH/scaling_r06_ab.jsonl}"
N=2
N4=8
GB_PER_CORE=4
source "$(dirname "$0")/lib_scaling_leg.sh"

for i in $(seq 1 "$ITERS"); do
  pair "$i" narrow  SPARK_GRAFT_MODE=narrow
  pair "$i" aligned
done
echo "AB CAMPAIGN DONE $(date +%s)" >> "$OUT"
