#!/bin/bash
# Second-decade (factor-100, ~sf10) scaling check for the SUPERLINEAR
# family — the queries whose output grows faster than their input by
# construction (near-dup families), plus the ANN and routed-profile
# rows. Regenerates the factor-100 set and measures wall time AND output
# rows at each decade, so growth is attributed to output, not guessed.
#
#   tools/run_scale100.sh [srcDir] [workDir]
#
# Produces <workDir>/scale100.json with per-decade {sec, rows}. The
# linear-core decades live in ARCHITECTURE.md's 100x table; this script
# covers the family the r10/r11 rounds left unmeasured at the second
# decade.
set -e
SRC=${1:-/root/testdata/sf0.1}
WORK=${2:-/tmp/graft_scale100}
# ann_ivf_store/ann_ivf_probe attribute the IVF row's scale cost between
# the one-time index build and the amortized partition-pruned serve (the
# number that matters at 100 TB, where the index is built once).
# pipe_near_dedup/pipe_dedup_quality/text_bm25 (r13 verdict #5) are the
# text/dedup workhorses a 100 TB curation run actually spends time in:
# near-dup adds CC + the keeper window over the banded pairs, and the
# bench stderr's [cc-route] lines record per decade whether the router
# took the driver union-find (route=local, up to 1e5 edges) or the
# distributed kernel (route=star) (captured into the artifact below).
# mm_near_dup (r14 verdict #3): blob near-dedup must show banded (output-
# bound), not all-pairs, growth across decades, like dedup_minhash.
# mm_near_dup_winnow (r15): the bounded-fingerprint rung — same decades,
# expected ~w x cheaper per blob than mm_near_dup's full byte-gram path.
# pipe_bpe_round8 (r14 verdict #2): after the weighted-vocabulary rewrite
# per-round cost must be vocabulary-bound — roughly flat across decades
# built by replicating documents (vocab stays ~constant as corpus x100).
QUERIES="o1_scan,dedup_minhash,ann_ivf,ann_ivf_store,ann_ivf_probe,ann_rp_ivf_store,ann_rp_ivf_probe,seg_profile_auto,pipe_near_dedup,pipe_dedup_quality,text_bm25,mm_near_dup,mm_near_dup_winnow,pipe_bpe_round8"
cd "$(dirname "$0")/.."
mkdir -p "$WORK"
python3 tools/make_scale10.py "$SRC" "$WORK/x10" 10
python3 tools/make_scale10.py "$SRC" "$WORK/x100" 100
for tag in base x10 x100; do
  case $tag in
    base) dir="$SRC";;
    *)    dir="$WORK/$tag";;
  esac
  # an ONLY run never replaces an entry already under its key
  rm -f "$WORK/bench_$tag.json"
  SPARK_GRAFT_ONLY="$QUERIES" SPARK_GRAFT_REPS=2 \
    SPARK_GRAFT_BENCH_OUT="$WORK/bench_$tag.json" \
    tools/run_bench.sh "$dir" 32 > /dev/null 2> "$WORK/bench_stderr_$tag.txt"
  grep '\[cc-route\]' "$WORK/bench_stderr_$tag.txt" | sort -u \
    > "$WORK/cc_routes_$tag.txt" || true
  SPARK_GRAFT_VERIFY_ONLY="$QUERIES" SPARK_GRAFT_VERIFY_COUNT=1 \
    tools/run_verify.sh "$dir" "$WORK/ignore" 2>/dev/null \
    | grep '\[count\]' > "$WORK/counts_$tag.txt"
done
# streaming-profile marginal-cost-vs-history curve (exact route): the
# committed evidence that the grid-pruned fold's per-batch cost does not
# grow with history size m
tools/run_profile_growth.sh 40000 10 "$WORK/profile_growth.json" 2>/dev/null >/dev/null
# streaming near-dedup marginal-cost-vs-store-size curve: 10 corpus
# copies replayed one per micro-batch onto a growing landed band store
tools/run_dedup_growth.sh "$SRC" 10 "$WORK/dedup_growth.json" 2>/dev/null >/dev/null
python3 - "$WORK" <<'EOF'
import json, sys, os
w = sys.argv[1]
out = {}
for tag in ("base", "x10", "x100"):
    bench = json.load(open(f"{w}/bench_{tag}.json"))["entries"][0]["queries"]
    rows = dict(l.split()[1:3] for l in open(f"{w}/counts_{tag}.txt"))
    out[tag] = {q: {"sec": v["t"], "rows": int(rows.get(q, -1))}
                for q, v in bench.items()}
    try:
        out[tag]["cc_routes"] = [l.strip() for l in
                                 open(f"{w}/cc_routes_{tag}.txt") if l.strip()]
    except FileNotFoundError:
        pass
out["profile_growth"] = json.load(open(f"{w}/profile_growth.json"))
out["dedup_growth"] = json.load(open(f"{w}/dedup_growth.json"))
json.dump(out, open(f"{w}/scale100.json", "w"), indent=1)
print(json.dumps(out, indent=1))
EOF
