#!/bin/bash
# Usage: tools/run_bench.sh [sfDir] [cpus]
# The keyed prior store defaults to BENCH_QUERIES.json at the repo root.
SF=${1:-/root/testdata/sf0.1}
CPUS=${2:-32}
. "$(dirname "$0")/jvm.sh"
cd "$GRAFT_ROOT"
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" graft_java 16 graft.Bench
