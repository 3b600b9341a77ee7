#!/bin/bash
# Streaming-profile marginal-cost-vs-history curve (the exact route's
# asymptote evidence): stage a long drifting-ramp history, replay it one
# slice per micro-batch, print the per-batch {m_before, addBatch_sec}
# JSON line from graft.Bench profile-growth.
#
#   tools/run_profile_growth.sh [segmentsPerSignal] [files] [outFile]
set -e
SEGS=${1:-10000}
FILES=${2:-8}
OUT=${3:-/tmp/graft_profile_growth.json}
cd "$(dirname "$0")/.."
IN=/tmp/graft_ramp_${SEGS}
python3 tools/make_ramp_history.py "$IN" "$SEGS" "$FILES" >&2
. tools/jvm.sh
WORK=$(mktemp -d /tmp/graft_pg.XXXXXX)
graft_java 16 graft.Bench profile-growth "$IN" "$WORK" | tee "$OUT"
rm -rf "$WORK"
