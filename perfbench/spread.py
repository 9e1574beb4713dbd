#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, per workload.

    python3 perfbench/spread.py [RESULTS_DIR]   (default .perfbench/results)

For each workload's untraced results it prints each metric's median and
its interquartile spread as a share of the median (statistics.quantiles,
n=4), next to the metric's bound from BENCHMARK.json. It exits 1 when a
spread other than setup_s's is wider than its bound, the test a set of runs
must pass; a spread under a third of its bound is marked "tight", the margin
a benchmark aims for so that a second set of runs stays inside the bound.
"""
import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402


def main():
    root = Path(__file__).resolve().parent.parent
    d = Path(sys.argv[1]) if len(sys.argv) > 1 else root / ".perfbench" / "results"
    spec = json.loads((root / "BENCHMARK.json").read_text())
    runs = {}
    for f in sorted(d.glob("*.json")):
        r = json.loads(f.read_text())
        if r.get("trace") == 0:
            runs.setdefault(r["workload"], []).append(r)
    steady = True
    for wl, rs in sorted(runs.items()):
        print(f"== {wl}: {len(rs)} runs, seeds {sorted(r['seed'] for r in rs)}")
        for m in spec["end_to_end"]:
            vals = [r["end_to_end"][m["name"]]["value"] for r in rs]
            q1, med, q3 = stats.quartiles(vals)
            share = (q3 - q1) / med
            ok = m["name"] == "setup_s" or share <= m["bound"]
            steady &= ok
            mark = "WIDE" if not ok else "tight" if share < m["bound"] / 3 else "ok"
            print(f"  {m['name']:12s} median {med:10.5g} {m['unit']:4s} "
                  f"spread {share:6.1%}  bound {m['bound']:.0%}  {mark}")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
