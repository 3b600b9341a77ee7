#!/bin/bash
# Local correctness loop: run graft.Verify on compiled classes (fast, no sbt).
# Usage: tools/run_verify.sh [sfDir] [outDir]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
. "$(dirname "$0")/jvm.sh"
rm -rf "$OUT"
graft_java 8 graft.Verify "$SF" "$OUT"
