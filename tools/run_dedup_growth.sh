#!/bin/bash
# Streaming near-dedup marginal-cost-vs-store-size curve: stage N corpus
# copies as sequential files, replay one per micro-batch through
# Ingest.dedupGrowStream (sign -> probe landed band store -> append), and
# print the per-batch {docs_before, addBatch_sec} JSON line from
# graft.Bench dedup-growth. profile_growth's sibling (r14 verdict #5).
#
#   tools/run_dedup_growth.sh [srcDir] [batches] [outFile]
set -e
SRC=${1:-/root/testdata/sf0.1}
BATCHES=${2:-10}
OUT=${3:-/tmp/graft_dedup_growth.json}
cd "$(dirname "$0")/.."
IN=/tmp/graft_doc_batches_${BATCHES}
rm -rf "$IN"
python3 tools/make_doc_batches.py "$SRC" "$IN" "$BATCHES" >&2
. tools/jvm.sh
WORK=$(mktemp -d /tmp/graft_dg.XXXXXX)
graft_java 16 graft.Bench dedup-growth "$IN" "$WORK" | tee "$OUT"
rm -rf "$WORK"
