#!/usr/bin/env bash
# Same-box A/B of the repository benchmark: a commit against the working
# tree, run in alternating pairs with the same seeds, then compared.
#
#   tools/perf_ab.sh <ref> <workload> <pairs> [first-seed] [trace]
#
# e.g. tools/perf_ab.sh HEAD ref_session 10
#      tools/perf_ab.sh HEAD~1 batch_map 8 301
#      tools/perf_ab.sh HEAD ref_session 1 7 1     # one traced pair, seed 7
#
# Both sides are `git archive` copies, made fresh on every call under
# ${TMPDIR:-/tmp}/perf_ab: `a` of <ref>, `b` of the working tree (tracked
# and untracked files that git does not ignore, edits included, written as
# a tree object through a temporary index, so the real index is untouched).
# Each copy builds itself on its first run (perfbench/run.py, offline sbt).
# Pair i runs seed first-seed+i-1 (first-seed defaults to 1001) on both
# sides, `a` first in odd pairs and `b` first in even ones, with the
# benchmark's own run length (`run_seconds` in BENCHMARK.json). Then
# perfbench/compare.py prints the verdicts. Run nothing else on the box
# meanwhile: run.py marks a run that starts beside another JVM as loaded.
set -euo pipefail
REF="${1:?usage: tools/perf_ab.sh <ref> <workload> <pairs> [first-seed] [trace]}"
WORKLOAD="${2:?usage: tools/perf_ab.sh <ref> <workload> <pairs> [first-seed] [trace]}"
PAIRS="${3:?usage: tools/perf_ab.sh <ref> <workload> <pairs> [first-seed] [trace]}"
SEED0="${4:-1001}"
TRACE="${5:-0}"
cd "$(dirname "$0")/.."
ROOT="$PWD"
WORK="${TMPDIR:-/tmp}/perf_ab"
SECONDS_PER_RUN="$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')"

git rev-parse --verify --quiet "$REF^{commit}" >/dev/null ||
  { echo "perf_ab: '$REF' is not a commit" >&2; exit 1; }

rm -rf "$WORK"
mkdir -p "$WORK/a" "$WORK/b"
git archive "$REF" | tar -x -C "$WORK/a"
INDEX="$WORK/index"
GIT_INDEX_FILE="$INDEX" git read-tree HEAD
GIT_INDEX_FILE="$INDEX" git add -A
TREE="$(GIT_INDEX_FILE="$INDEX" git write-tree)"
rm -f "$INDEX"
git archive "$TREE" | tar -x -C "$WORK/b"
echo "perf_ab: a = $REF ($(git rev-parse --short "$REF")), b = working tree ($TREE)" >&2

for ((i = 0; i < PAIRS; i++)); do
  seed=$((SEED0 + i))
  order="a b"
  if ((i % 2)); then order="b a"; fi
  for side in $order; do
    echo "perf_ab: pair $((i + 1))/$PAIRS seed $seed side $side" >&2
    (cd "$WORK/$side" && python3 perfbench/run.py --workload "$WORKLOAD" \
      --seed "$seed" --seconds "$SECONDS_PER_RUN" --trace "$TRACE") |
      tee -a "$WORK/$side.jsonl"
  done
done

python3 "$ROOT/perfbench/compare.py" "$WORK/a/.perfbench/results" "$WORK/b/.perfbench/results"
