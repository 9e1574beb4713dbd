"""Tests of the benchmark's own code: percentiles, geometric mean, span
self time, the oracle's canonical hash, the seeded table generator, and
(when the benchmark has been built) the JVM-side generators' determinism.

    python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 4)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(range(1, 11), 90), 9.1)

    def test_single_value(self):
        self.assertEqual(stats.percentile([7.5], 90), 7.5)

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_quartiles_match_statistics(self):
        q1, q2, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))


class TailMean(unittest.TestCase):
    def test_slowest_quarter(self):
        self.assertEqual(stats.tail_mean([1, 2, 3, 4, 5, 6, 7, 100], 0.25), 53.5)
        self.assertEqual(stats.tail_mean([5], 0.25), 5)


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean([3, 3, 3]), 3)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name,
            "start_us": start, "end_us": end}


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once_when_overlapping(self):
        spans = [span(1, 0, "read:q", 0, 100),
                 span(2, 1, "engine", 0, 30),
                 span(3, 1, "execute", 30, 100),
                 span(4, 1, "spark.job", 40, 70),
                 span(5, 1, "spark.job", 60, 90)]
        _, st = stats.self_times(spans)
        self.assertEqual(st[1], 0)        # fully covered by engine+execute
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 70 - 50)  # jobs moved under execute: 40..90
        self.assertEqual(st[4], 30)
        self.assertEqual(st[5], 30)

    def test_by_name_aggregates_kinds(self):
        spans = [span(1, 0, "pass", 0, 50),
                 span(2, 1, "read:a", 0, 20),
                 span(3, 1, "read:b", 20, 50),
                 span(4, 3, "engine", 25, 35)]
        agg = stats.self_time_by_name(spans)
        self.assertNotIn("pass", agg)
        self.assertAlmostEqual(agg["read"], (20 + 20) / 1000)
        self.assertAlmostEqual(agg["engine"], 10 / 1000)

    def test_job_outside_children_stays_with_op(self):
        spans = [span(1, 0, "batch:b00", 0, 100),
                 span(2, 1, "add", 0, 10),
                 span(3, 1, "spark.job", 50, 60)]
        spans2, st = stats.self_times(spans)
        self.assertEqual({s["id"]: s["parent"] for s in spans2}[3], 1)
        self.assertEqual(st[1], 80)

    def test_span_ms_per_pass(self):
        spans = [span(1, 0, "pass", 0, 100), span(2, 1, "read:a", 0, 50),
                 span(3, 2, "engine", 0, 4000),
                 span(4, 0, "pass", 100, 200), span(5, 4, "engine", 0, 2000)]
        self.assertEqual(stats.span_ms_per_pass(spans, "engine"), 3.0)


class Metrics(unittest.TestCase):
    def test_end_to_end(self):
        # Three passes of ops a and b; the median pass decides.
        ops = [{"pass": p, "name": n, "ms": ms} for p, n, ms in [
            (0, "a", 90.0), (0, "b", 110.0),
            (1, "a", 10.0), (1, "b", 40.0),
            (2, "a", 20.0), (2, "b", 40.0)]]
        rec = {"setup_reps": [{"total": 9.0}, {"total": 1.0}, {"total": 2.0}],
               "loop_seconds": 2.0, "pass_ms": [200.0, 50.0, 60.0], "ops": ops}
        m = {k: v for k, (_, v) in stats.end_to_end(rec).items()}
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["op_p50_ms"], 30.0)    # pass p50s 100, 25, 30
        self.assertEqual(m["op_tail_ms"], 40.0)   # pass tails 110, 40, 40
        self.assertEqual(m["pass_s"], 0.06)
        self.assertAlmostEqual(m["geomean_ms"], (20.0 * 40.0) ** 0.5)

    def test_names_match_benchmark_json(self):
        spec = json.loads((Path(__file__).resolve().parent.parent /
                           "BENCHMARK.json").read_text())
        rec = {"setup_reps": [{"total": 1.0, "register": 0.5}],
               "loop_seconds": 1.0, "pass_ms": [1.0], "spans": [],
               "ops": [{"name": "a", "ms": 1.0, "pass": 0, "layers": {
                   k: 1 for k in ("analysis_ms", "optimization_ms",
                                  "planning_ms", "plan_nodes", "jobs",
                                  "stages", "tasks", "job_active_ms",
                                  "driver_ms", "executor_cpu_ms",
                                  "shuffle_read_bytes", "shuffle_write_bytes",
                                  "spill_bytes", "peak_exec_mem_bytes")}}]}
        self.assertEqual(
            {k: u for k, (u, _) in stats.end_to_end(rec).items()},
            {m["name"]: m["unit"] for m in spec["end_to_end"]})
        self.assertEqual(
            {k: u for k, (u, _) in stats.per_layer(rec).items()},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class StreamLayers(unittest.TestCase):
    def test_medians_over_completed_batches(self):
        def batch(ok, add, jobs, nodes):
            return {"ok": ok, "docs": 25, "kept": 10, "bytes_written": 1000,
                    "tap_plan_nodes": nodes,
                    "progress_ms": {"addBatch": add, "queryPlanning": 5,
                                    "walCommit": 50},
                    "layers": {"jobs": jobs, "driver_ms": add / 2,
                               "job_sites": {"Dedup": jobs}}}
        series = [batch(True, 100, 10, 200), batch(True, 300, 12, 400),
                  batch(True, 200, 11, 800), batch(False, 900, 9, None)]
        m = {k: v for k, (_, v) in stats.stream_layers(series).items()}
        self.assertEqual(m["streaming.add_batch_ms"], 200)
        self.assertEqual(m["streaming.jobs_per_batch"], 11)
        self.assertEqual(m["streaming.tap_plan_nodes"], 400)
        self.assertEqual(m["streaming.jobs.Dedup"], 11)
        self.assertEqual(m["streaming.kept_ratio"], 0.4)
        self.assertEqual(m["sources.bytes_written_per_batch"], 1000)


class Steal(unittest.TestCase):
    def test_share_of_cpu_time(self):
        import run
        before = [100, 0, 10, 500, 0, 0, 0, 20]
        after = [160, 0, 20, 520, 0, 0, 0, 30]   # +60 user +10 sys +20 idle +10 steal
        self.assertAlmostEqual(run.steal_share(before, after), 0.1)
        self.assertIsNone(run.steal_share(None, after))


class Oracle(unittest.TestCase):
    def test_hash_is_order_insensitive_and_canonical(self):
        a = oracle.row_hash(["x", "y"], [[1, 2.0], [3, None]], False)[0]
        b = oracle.row_hash(["x", "y"], [[3, None], [1, 2]], False)[0]
        self.assertEqual(a, b)

    def test_by_name_sorts_columns(self):
        a = oracle.row_hash(["b", "a"], [[1, 2]], True)[0]
        b = oracle.row_hash(["a", "b"], [[2, 1]], True)[0]
        self.assertEqual(a, b)

    def test_float_digits(self):
        self.assertEqual(oracle.canon(0.1 + 0.2), oracle.canon(0.3))
        self.assertNotEqual(oracle.canon(0.3), oracle.canon(0.3001))


class Generator(unittest.TestCase):
    def test_seeded_tables(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            for s in (1, 1, 2):
                sub = Path(d) / f"s{s}"
                sub.mkdir(exist_ok=True)
                gen.write_tables(str(sub), s, 0.001, ["documents", "orders"])
            con = duckdb.connect()

            def rows(s, t):
                return con.execute(
                    f"select * from '{d}/s{s}/{t}.parquet' order by 1").fetchall()
            again = Path(d) / "again"
            again.mkdir()
            gen.write_tables(str(again), 1, 0.001, ["documents"])
            self.assertEqual(
                rows(1, "documents"),
                con.execute(f"select * from '{again}/documents.parquet' "
                            "order by 1").fetchall())
            self.assertNotEqual(rows(1, "documents"), rows(2, "documents"))
            self.assertEqual(len(rows(1, "orders")), len(rows(2, "orders")))


class JvmGenerators(unittest.TestCase):
    def test_selftest(self):
        cp_file = Path(__file__).resolve().parent.parent / ".perfbench" / "classpath.txt"
        if not cp_file.exists():
            self.skipTest("benchmark not built yet (run perfbench/run.py once)")
        out = subprocess.run(
            ["java", "-cp", cp_file.read_text().strip(), "perfbench.Main",
             "--selftest"], capture_output=True, text=True, timeout=120,
            env=dict(os.environ))
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        self.assertIn("selftest ok", out.stdout)


if __name__ == "__main__":
    unittest.main()
