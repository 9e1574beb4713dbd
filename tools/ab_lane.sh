#!/usr/bin/env bash
# Same-box A/B of the named-query map (graft.Bench): a commit against
# the working tree, in alternating runs, then per-query medians side by
# side. This is how a per-query regression against an older record is
# settled: cross-record comparisons at sub-second query scale are
# box-sensitive (BENCH_NOTES r16: d3 1.27 -> 3.1 s reproduced identically
# under the old code on the same box), so never chase a bench delta in
# code the diff never touched before running this.
#
#   tools/ab_lane.sh <ref> [sfDir] [pairs]
#
# e.g. tools/ab_lane.sh HEAD                          # sf0.1, one pair
#      SPARK_GRAFT_SKIP=... tools/ab_lane.sh HEAD~1 <sfDir> 8   # 8 pairs
#
# Both sides are `git archive` copies (tools/ab_copies.sh, shared with
# tools/perf_ab.sh), made fresh on every call under ${TMPDIR:-/tmp}/graft_ab:
# `a` of <ref>, `b` of the working tree, edits included. The working tree
# itself is never checked out over, so an interrupted run leaves it alone.
# Each copy compiles itself once (offline sbt). Pair i runs `a` first in
# odd pairs and `b` first in even ones; each run writes its full map to
# <copy>/ab/run<i>/bench.json (never a copy's committed bench.json).
# SPARK_GRAFT_CPUS (default 8) and SPARK_GRAFT_SKIP pass through to both.
# Run nothing else on the box meanwhile, sbt included.
#
# Read the calib_sec / seg_cal_max columns before trusting per-query
# movers: 20-30% ambient bursts happen (r17: a leg at calib 5.34 against
# the other's 4.13 produced phantom 2x movers on pure-SQL queries the diff
# never touched). Prefer medians over several pairs to a single run.
set -euo pipefail
REF="${1:?usage: tools/ab_lane.sh <ref> [sfDir] [pairs]}"
SF_DIR="${2:-/root/testdata/sf0.1}"
PAIRS="${3:-1}"
cd "$(dirname "$0")/.."
WORK="${TMPDIR:-/tmp}/graft_ab"

source tools/ab_copies.sh
ab_copies "$REF" "$WORK"
for side in a b; do
  echo "[ab] compiling $side ..." >&2
  (cd "$WORK/$side" && sbt -batch compile >"$WORK/$side.compile.log" 2>&1) ||
    { echo "compile failed for $side — see $WORK/$side.compile.log" >&2; exit 1; }
done

bench_once() { # $1 = side, $2 = run index
  local out="$WORK/$1/ab/run$2"
  mkdir -p "$out"
  echo "[ab] run $2 side $1 on $SF_DIR ..." >&2
  (cd "$WORK/$1" && SPARK_GRAFT_SF_DIR="$SF_DIR" \
    SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" SPARK_GRAFT_OUT="$out" \
    sbt -batch "runMain graft.Bench" >"$out.log" 2>&1) ||
    { echo "bench failed for $1 run $2 — tail of $out.log:" >&2; tail -5 "$out.log" >&2; exit 1; }
}

for ((i = 1; i <= PAIRS; i++)); do
  order="a b"
  if ((i % 2 == 0)); then order="b a"; fi
  for side in $order; do bench_once "$side" "$i"; done
done

echo
echo "== Bench A/B on $SF_DIR: a = $REF, b = working tree, $PAIRS pair(s) =="
python3 - "$WORK" "$PAIRS" <<'PY'
import json, statistics, sys
work, pairs = sys.argv[1], int(sys.argv[2])
runs = {s: [json.load(open(f"{work}/{s}/ab/run{i}/bench.json"))
            for i in range(1, pairs + 1)] for s in "ab"}
for s in "ab":
    for i, d in enumerate(runs[s], 1):
        print(f"{s} run {i}: total {d['value']:.1f}s, calib_sec {d.get('calib_sec')}, "
              f"seg_cal_max {d.get('seg_cal_max')}, {len(d['queries'])} queries")
def spread(xs):
    xs = sorted(xs)
    if len(xs) < 4:
        return xs[-1] - xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]
shared = sorted(set.intersection(*(set(d["queries"]) for r in runs.values() for d in r)))
rows = []
for q in shared:
    a = [d["queries"][q] for d in runs["a"]]
    b = [d["queries"][q] for d in runs["b"]]
    faster = sum(y < x for x, y in zip(a, b))
    rows.append((q, statistics.median(a), spread(a), statistics.median(b), faster))
ratios = [mb / ma for _, ma, _, mb, _ in rows if ma > 0]
print(f"shared queries: {len(shared)}; median b/a ratio: {statistics.median(ratios):.3f}")
print("query: a median (a spread) | b median | b - a | b faster")
movers = sorted(rows, key=lambda r: r[3] - r[1])
for q, ma, sa, mb, f in (movers if len(movers) <= 20 else movers[:8] + movers[-8:]):
    flag = " OUTSIDE" if abs(mb - ma) > sa else ""
    print(f"  {q}: {ma:.3f} ({sa:.3f}) | {mb:.3f} | {mb - ma:+.3f} | {f}/{pairs}{flag}")
PY
echo "full maps: $WORK/{a,b}/ab/run*/bench.json"
