#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ref_session|batch_map|stream_export \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
benchmark program with sbt (offline) into the checkout; later runs reuse the
build while the sources are unchanged. One JVM then runs the workload and
writes a raw record; this script runs the DuckDB output checks, derives the
metrics, writes the full result to .perfbench/results/ and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

OUT = ROOT / ".perfbench"
WORKLOADS = ("ref_session", "batch_map", "stream_export")
# Scale factor and tables of the generated TESTDATA.md-schema inputs.
DATA_SF = {"batch_map": 0.1, "stream_export": 0.01}
DATA_TABLES = {"batch_map": None, "stream_export": ["documents"]}
HEAP = "4g"
# BENCHMARK.json's workloads must end within 180 s; stream_export is run
# by hand and takes minutes (see README.md).
JVM_TIMEOUT_S = {"ref_session": 150, "batch_map": 150, "stream_export": 900}
# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher
# JavaModuleOptions), as the library's own build passes them.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles with sbt and returns the runtime classpath."""
    stamp_file, cp_file = OUT / "build.stamp", OUT / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building (sbt, offline) ...")
    OUT.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    with open(OUT / "build.log", "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=850, env=env, stdin=subprocess.DEVNULL)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        (OUT / "build.out").write_text(p.stdout)
        die(f"build failed (rc={p.returncode}); see {OUT}/build.out", 1)
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return cp


def other_jvms():
    """Java processes other than this run's own."""
    n = 0
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            argv0 = (d / "cmdline").read_bytes().split(b"\0")[0]
        except OSError:
            continue
        if argv0.endswith(b"java"):
            n += 1
    return n


def preflight():
    """Waits up to 30 s for co-resident JVMs to go; the result records how
    many were alive and the load average when the run started."""
    deadline = time.time() + 30
    n = other_jvms()
    while n and time.time() < deadline:
        time.sleep(2)
        n = other_jvms()
    if n:
        log(f"WARNING: {n} other JVM(s) alive; the result is marked loaded")
    return {"co_resident_jvms_at_start": n, "loaded": n > 0,
            "load_avg_at_start": os.getloadavg()[0]}


def cpu_times():
    """Aggregate CPU time counters of the box (/proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of the box's CPU time taken by the hypervisor for other guests
    while the workload ran: on a shared virtual machine this is the load
    that no process of the box shows."""
    if not before or not after or len(after) < 8:
        return None
    d = [a - b for a, b in zip(after, before)]
    return d[7] / max(1, sum(d))


def run_jvm(cp, args, record, work):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--record", str(record),
            "--data", str(work / "data")]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S[args.workload])
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("the workload JVM timed out", 1)
    for ln in (work / "jvm.log").read_text(errors="replace").splitlines():
        if ln.startswith("[perfbench]"):
            print(ln, file=sys.stderr)
    if rc != 0 or not record.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        log(tail)
        die(f"the workload JVM failed (rc={rc})", 1)


def evaluate(rec, work):
    """Counts attempted and failed operations: an operation fails when it
    threw or its outputs did not check out (JVM-side checks per op, the
    per-name checks, and the DuckDB oracle per name)."""
    ops = rec["ops"]
    bad_names = {k: v for k, v in (rec.get("checks") or {}).items() if v}
    if rec.get("oracle"):
        bad_names.update(oracle.check(rec["oracle"], work))
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad_names)
    for k, v in bad_names.items():
        log(f"check failed: {k}: {v}")
    for o in ops:
        if not o["ok"]:
            log(f"op failed: {o['kind']}:{o['name']}: {o['error']}")
    extra_ok = all(not v for v in (rec.get("global_checks") or {}).values())
    for k, v in (rec.get("global_checks") or {}).items():
        if v:
            log(f"check failed: {k}: {v}")
    return len(ops), failed, failed == 0 and extra_ok, bad_names


def by_name(ops):
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(o["ms"])
    return out


def previous_untraced(workload):
    """End-to-end metrics of the untraced runs already in this checkout."""
    vals = {}
    for f in (OUT / "results").glob(f"{workload}-*-t0-*.json"):
        try:
            m = json.loads(f.read_text())["end_to_end"]
        except (OSError, ValueError, KeyError):
            continue
        for k, v in m.items():
            vals.setdefault(k, []).append(v["value"])
    return {k: statistics.median(v) for k, v in vals.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala",
                 HERE / "build.sbt"):
        if not need.exists():
            die(f"not a checkout of the library: {need} is missing")

    cp = build()
    pre = preflight()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
    work = OUT / "work" / tag
    work.mkdir(parents=True)
    record = work / "record.json"
    t0 = time.time()
    if args.workload in DATA_SF:
        (work / "data").mkdir()
        gen.write_tables(str(work / "data"), args.seed, DATA_SF[args.workload],
                         DATA_TABLES[args.workload])
    generate_s = time.time() - t0
    cpu0 = cpu_times()
    run_jvm(cp, args, record, work)
    pre["steal_share"] = steal_share(cpu0, cpu_times())
    rec = json.loads(record.read_text())

    attempted, failed, correct, bad = evaluate(rec, work)
    e2e = stats.end_to_end(rec)
    result = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "env": dict(rec["env"], **pre),
        "correct": correct, "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted, "failed_checks": bad,
        "n_ops": attempted, "n_passes": len(rec["pass_ms"]),
        "setup_reps": rec["setup_reps"], "generate_s": generate_s,
        "op_samples": [[o["pass"], o["name"], round(o["ms"], 3)] for o in rec["ops"]],
        "ops_by_name": {
            n: {"n": len(v), "median_ms": statistics.median(v)}
            for n, v in by_name(rec["ops"]).items()},
        "end_to_end": {k: {"value": v, "unit": u} for k, (u, v) in e2e.items()},
        "detail": rec.get("detail", {}),
        "kinds": stats.by_kind(rec["ops"]),
        "series": rec.get("series", []),
    }
    if args.trace:
        layers = stats.per_layer(rec)
        result["per_layer"] = {k: {"value": v, "unit": u}
                               for k, (u, v) in layers.items()}
        result["self_time_ms"] = stats.self_time_by_name(rec["spans"])
        result["span_ms"] = stats.span_medians(rec["spans"])
        base = previous_untraced(args.workload)
        result["trace_overhead"] = {
            k: {"traced": v, "untraced_median": base.get(k),
                "delta": None if k not in base else v - base[k]}
            for k, (_, v) in e2e.items()}
        metrics = result["per_layer"]
    else:
        metrics = result["end_to_end"]
    if args.workload == "batch_map":
        result["families"] = stats.by_family(rec["ops"])
    if args.workload == "stream_export":
        result["stream_layers"] = {k: {"value": v, "unit": u} for k, (u, v)
                                   in stats.stream_layers(rec["series"]).items()}
    (OUT / "results").mkdir(parents=True, exist_ok=True)
    (OUT / "results" / f"{tag}.json").write_text(json.dumps(result, indent=1))
    subprocess.run(["rm", "-rf", str(work)], check=True)
    for k, v in metrics.items():
        log(f"{k:34s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
