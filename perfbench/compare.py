#!/usr/bin/env python3
"""Compare two sets of benchmark results (e.g. a parent commit and a change).

    python3 perfbench/compare.py RESULTS_A RESULTS_B

Each argument is a directory of result files as run.py writes them to
.perfbench/results/. For every workload this prints, per end-to-end metric,
each side's median and quartiles, the pairs B won (runs paired by seed when
both sides ran the same seeds, else in file order), and a verdict:

  gain        B wins at least 9/10 of the pairs and the medians differ by
              more than A's own interquartile spread;
  regression  B's median is worse than A's by more than the metric's bound
              in BENCHMARK.json;
  unresolved  A's own spread is wider than the bound and neither rule holds;
  same        otherwise.

From traced runs it then prints the per-layer metrics and the self time per
span name (the blocking path of the closed-loop client), largest change
first.
"""
import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402


def load(d):
    out = {}
    for f in sorted(Path(d).glob("*.json")):
        try:
            r = json.loads(f.read_text())
        except ValueError:
            continue
        if "workload" in r:
            out.setdefault((r["workload"], r["trace"]), []).append(r)
    return out


def pairs(a, b):
    sa = {r["seed"]: r for r in a}
    sb = {r["seed"]: r for r in b}
    common = sorted(set(sa) & set(sb))
    if len(common) >= min(len(a), len(b)):
        return [(sa[s], sb[s]) for s in common]
    return list(zip(a, b))


def verdict(va, vb, pr, better, bound):
    q1, ma, q3 = stats.quartiles(va)
    mb = statistics.median(vb)
    sign = 1 if better == "higher" else -1
    won = sum(1 for x, y in pr if sign * (y - x) > 0)
    lost = sum(1 for x, y in pr if sign * (y - x) < 0)
    spread = q3 - q1
    if pr and won >= 0.9 * len(pr) and abs(mb - ma) > spread:
        v = "gain"
    elif sign * (mb - ma) < -bound * abs(ma):
        v = "regression"
    elif spread > bound * abs(ma):
        v = "unresolved"
    else:
        v = "same"
    return won, lost, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((Path(__file__).resolve().parent.parent /
                       "BENCHMARK.json").read_text())
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer_better = {m["name"]: m["better"] for m in spec["per_layer"]}
    A, B = load(sys.argv[1]), load(sys.argv[2])
    for wl in sorted({w for w, _ in A} | {w for w, _ in B}):
        a, b = A.get((wl, 0), []), B.get((wl, 0), [])
        print(f"\n== {wl}: {len(a)} runs A, {len(b)} runs B (untraced)")
        if a and b:
            pr_runs = pairs(a, b)
            print(f"  {'metric':14s} {'A median [q1, q3]':>34s} "
                  f"{'B median [q1, q3]':>34s} {'B/A':>7s} won/lost  verdict")
            for name, m in e2e.items():
                va = [r["end_to_end"][name]["value"] for r in a]
                vb = [r["end_to_end"][name]["value"] for r in b]
                pr = [(x["end_to_end"][name]["value"], y["end_to_end"][name]["value"])
                      for x, y in pr_runs]
                won, lost, v = verdict(va, vb, pr, m["better"], m["bound"])
                qa, qb = stats.quartiles(va), stats.quartiles(vb)
                print(f"  {name:14s} {qa[1]:12.5g} [{qa[0]:.5g}, {qa[2]:.5g}]"
                      f"{'':>2s}{qb[1]:12.5g} [{qb[0]:.5g}, {qb[2]:.5g}]"
                      f" {qb[1] / qa[1]:7.3f} {won:3d}/{lost:<3d}  {v}")
        ta, tb = A.get((wl, 1), []), B.get((wl, 1), [])
        if ta and tb:
            print(f"  -- per layer ({len(ta)} traced A, {len(tb)} traced B), "
                  "medians")
            for name in layer_better:
                xa = statistics.median(r["per_layer"][name]["value"] for r in ta)
                xb = statistics.median(r["per_layer"][name]["value"] for r in tb)
                unit = ta[0]["per_layer"][name]["unit"]
                print(f"  {name:30s} {xa:14.6g} {xb:14.6g} {unit}")
            names = set()
            for r in ta + tb:
                names |= set(r["self_time_ms"])
            rows = []
            for n in names:
                xa = statistics.median(r["self_time_ms"].get(n, 0.0) for r in ta)
                xb = statistics.median(r["self_time_ms"].get(n, 0.0) for r in tb)
                rows.append((abs(xb - xa), n, xa, xb))
            print("  -- self time per span (ms per run), largest change first")
            for _, n, xa, xb in sorted(rows, reverse=True):
                print(f"  {n:30s} {xa:12.1f} {xb:12.1f} {xb - xa:+12.1f}")


if __name__ == "__main__":
    main()
