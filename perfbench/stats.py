"""Statistics shared by run.py and compare.py: percentiles, geometric
means, span self time, and the metric definitions of BENCHMARK.json."""
import math
import statistics


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100] (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_mean(values, share):
    """Mean of the slowest `share` of the values (at least one): the latency
    of the slow ops, steadier than a single high percentile when the ops
    fall into a few distinct latency levels."""
    xs = sorted(values)
    k = max(1, round(len(xs) * share))
    return sum(xs[-k:]) / k


def geomean(values):
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    xs = list(values)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def _union_us(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a >= end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def nest_jobs(spans):
    """Spark job spans are recorded under the operation that launched them;
    for self time each is moved under the deepest span of that operation
    whose interval contains the job's start."""
    by_id = {s["id"]: dict(s) for s in spans}
    children = {}
    for s in by_id.values():
        children.setdefault(s["parent"], []).append(s)

    def deepest(sid, t):
        for c in children.get(sid, []):
            if c["name"] != "spark.job" and c["start_us"] <= t <= c["end_us"]:
                return deepest(c["id"], t)
        return sid

    for s in by_id.values():
        if s["name"] == "spark.job" and s["parent"] in by_id:
            s["parent"] = deepest(s["parent"], s["start_us"])
    return list(by_id.values())


def self_times(spans):
    """Self time of each span in microseconds: its duration minus the part
    of its interval that its child spans cover."""
    spans = nest_jobs(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        out[s["id"]] = (hi - lo) - _union_us(kids.get(s["id"], []), lo, hi)
    return spans, out


def self_time_by_name(spans, skip=("pass",)):
    """Total self time per span name, in milliseconds."""
    spans, st = self_times(spans)
    agg = {}
    for s in spans:
        if s["name"] in skip:
            continue
        name = s["name"].split(":")[0] if ":" in s["name"] else s["name"]
        agg[name] = agg.get(name, 0.0) + st[s["id"]] / 1000.0
    return agg


# ---- metric definitions ------------------------------------------------

def end_to_end(rec):
    """The end-to-end metrics of one record. The op-level metrics are taken
    per pass and the median over passes is reported: pass times keep
    falling for a few passes as the JIT warms up, and the median over
    passes discards both that tail and a pass hit by a neighbour's load."""
    passes = {}
    for o in rec["ops"]:
        passes.setdefault(o["pass"], []).append(o)

    def over_passes(f):
        return statistics.median(f(ops) for ops in passes.values())

    def geo(ops):
        by_name = {}
        for o in ops:
            by_name.setdefault(o["name"], []).append(o["ms"])
        return geomean(statistics.median(v) for v in by_name.values())

    return {
        "setup_s": ("s", statistics.median(r["total"] for r in rec["setup_reps"])),
        "op_p50_ms": ("ms", over_passes(
            lambda ops: percentile([o["ms"] for o in ops], 50))),
        "op_tail_ms": ("ms", over_passes(
            lambda ops: tail_mean([o["ms"] for o in ops], 0.25))),
        "pass_s": ("s", statistics.median(rec["pass_ms"]) / 1000.0),
        "geomean_ms": ("ms", over_passes(geo)),
    }


PASS_SUMS = [
    ("catalyst.analysis_ms", "ms", "analysis_ms"),
    ("catalyst.optimization_ms", "ms", "optimization_ms"),
    ("catalyst.planning_ms", "ms", "planning_ms"),
    ("catalyst.plan_nodes", "count", "plan_nodes"),
    ("exec.jobs", "count", "jobs"),
    ("exec.stages", "count", "stages"),
    ("exec.tasks", "count", "tasks"),
    ("exec.job_active_ms", "ms", "job_active_ms"),
    ("exec.driver_ms", "ms", "driver_ms"),
    ("exec.executor_cpu_ms", "ms", "executor_cpu_ms"),
    ("exec.shuffle_read_bytes", "B", "shuffle_read_bytes"),
    ("exec.shuffle_write_bytes", "B", "shuffle_write_bytes"),
    ("exec.spill_bytes", "B", "spill_bytes"),
]


def per_pass(rec, key):
    """Median over passes of the per-pass sum of an op layer field."""
    sums = {}
    for o in rec["ops"]:
        if o.get("layers"):
            sums[o["pass"]] = sums.get(o["pass"], 0) + o["layers"][key]
    return statistics.median(sums.values()) if sums else 0


def span_ms_per_pass(spans, name):
    """Median over passes of the summed duration of spans called `name`."""
    parent = {s["id"]: s["parent"] for s in spans}
    kind = {s["id"]: s["name"] for s in spans}
    sums = {}
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p in parent and kind[p] != "pass":
            p = parent[p]
        sums[p] = sums.get(p, 0.0) + (s["end_us"] - s["start_us"]) / 1000.0
    return statistics.median(sums.values()) if sums else 0.0


def per_layer(rec):
    """The per-layer metrics of one traced record."""
    ops = [o for o in rec["ops"] if o.get("layers")]
    out = {name: (unit, per_pass(rec, key)) for name, unit, key in PASS_SUMS}
    out["catalyst.plan_nodes_max_op"] = (
        "count", max(o["layers"]["plan_nodes"] for o in ops))
    out["exec.driver_ms_max_op"] = (
        "ms", max(o["layers"]["driver_ms"] for o in ops))
    out["exec.peak_exec_mem_bytes"] = (
        "B", max(o["layers"]["peak_exec_mem_bytes"] for o in ops))
    out["frontend.build_ms"] = ("ms", rec.get("frontend_ms_per_pass")
                                or span_ms_per_pass(rec["spans"], "engine"))
    out["register.setup_ms"] = (
        "ms", 1000 * statistics.median(r["register"] for r in rec["setup_reps"]))
    return out


# ---- detail views in the result file -------------------------------------

def by_kind(ops):
    """p50/p90 per op kind (read vs chain in ref_session)."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    return {k: {"n": len(v), "p50_ms": percentile(v, 50),
                "p90_ms": percentile(v, 90)} for k, v in kinds.items()}


def by_family(ops):
    """Seconds per pass and executor CPU ms per pass for each query family
    (the first letter of a batch_map query name), medians over passes."""
    wall, cpu = {}, {}
    for o in ops:
        key = (o["name"][0], o["pass"])
        wall[key] = wall.get(key, 0.0) + o["ms"] / 1000.0
        if o.get("layers"):
            cpu[key] = cpu.get(key, 0.0) + o["layers"]["executor_cpu_ms"]
    out = {}
    for fam in sorted({f for f, _ in wall}):
        row = {"s": statistics.median(v for (f, _), v in wall.items() if f == fam)}
        if cpu:
            row["executor_cpu_ms"] = statistics.median(
                v for (f, _), v in cpu.items() if f == fam)
        out[fam] = row
    return out


def span_medians(spans):
    """Median duration in ms per span name (op names folded to their kind)."""
    d = {}
    for s in spans:
        if s["name"] != "pass":
            d.setdefault(s["name"].split(":")[0], []).append(
                (s["end_us"] - s["start_us"]) / 1000.0)
    return {k: {"n": len(v), "median_ms": statistics.median(v)}
            for k, v in d.items()}


def stream_layers(series):
    """The streaming and sources layers of a stream_export run: per-batch
    medians over its micro-batches (the series keeps every batch, so the
    growth stays on the record). Spark counts come only from a traced run."""
    done = [b for b in series if b.get("ok", True) and b.get("progress_ms")]
    if not done:
        return {}

    def med(f):
        return statistics.median(f(b) for b in done)

    out = {
        "streaming.add_batch_ms": ("ms", med(lambda b: b["progress_ms"].get("addBatch", 0))),
        "streaming.query_planning_ms": ("ms", med(
            lambda b: b["progress_ms"].get("queryPlanning", 0))),
        "streaming.wal_commit_ms": ("ms", med(lambda b: b["progress_ms"].get("walCommit", 0))),
        "streaming.kept_ratio": ("ratio", med(lambda b: b["kept"] / b["docs"])),
        "sources.bytes_written_per_batch": ("B", med(lambda b: b["bytes_written"])),
    }
    traced = [b for b in done if b.get("layers")]
    if traced:
        out["streaming.jobs_per_batch"] = ("count", statistics.median(
            b["layers"]["jobs"] for b in traced))
        out["streaming.driver_ms_per_batch"] = ("ms", statistics.median(
            b["layers"]["driver_ms"] for b in traced))
        out["streaming.tap_plan_nodes"] = ("count", statistics.median(
            b["tap_plan_nodes"] for b in traced if b.get("tap_plan_nodes") is not None))
        for f in sorted({f for b in traced for f in b["layers"]["job_sites"]}):
            out[f"streaming.jobs.{f}"] = ("count", statistics.median(
                b["layers"]["job_sites"].get(f, 0) for b in traced))
    return out
