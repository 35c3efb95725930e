"""Self-tests of the benchmark. Run from the repository root:

  python3 -m unittest perfbench/test_perfbench.py          # fast checks
  PERFBENCH_SMOKE=1 python3 -m unittest perfbench/test_perfbench.py
                                    # + a few ops of every workload (slow)
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402
import pool  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond_the_reported_percentile(self):
        for pct in (50, 75, 90, 95):
            n = run.min_ops_for(pct)
            values = [float(i) for i in range(n)]
            self.assertGreaterEqual(run.tail_percentile(values, pct)[1], 10)
            # one sample fewer no longer supports the percentile
            self.assertLess(run.tail_percentile(values[:-1], pct)[1], 10)

    def test_every_workload_window_supports_its_tail(self):
        for name, cfg in run.WORKLOADS.items():
            if cfg["tail_pct"] < 100:
                self.assertGreaterEqual(cfg["min_ops"], run.min_ops_for(cfg["tail_pct"]), name)


class Contract(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_metric_names_and_units_match_benchmark_json(self):
        e2e = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(e2e, dict(run.END_TO_END))
        self.assertEqual(layers, dict(run.PER_LAYER))
        self.assertLessEqual({w["name"] for w in self.bench["workloads"]}, set(run.WORKLOADS))

    def test_summary_reports_every_metric_with_its_unit(self):
        ops = [{"phase": "timed", "ms": 100.0 + i, "traced": i % 2 == 0}
               for i in range(200)]
        res = {"ops": ops, "window_s": 20.0, "first_timed_epoch_ms": 12_000.0,
               "disk_bytes": 2 ** 20, "layers": {}}
        m, n, beyond = run.summarize("facade_select", res, 10.0, False, 90)
        self.assertEqual({k: v["unit"] for k, v in m.items()}, dict(run.END_TO_END))
        self.assertAlmostEqual(m["setup_s"]["value"], 2.0)
        self.assertAlmostEqual(m["throughput_ops_s"]["value"], 10.0)
        self.assertAlmostEqual(m["disk_mb"]["value"], 1.0)
        self.assertEqual(n, 200)
        self.assertGreaterEqual(beyond, 10)

    def test_traced_summary_requires_every_active_layer(self):
        ops = [{"phase": "timed", "ms": 1.0, "traced": i % 2 == 0} for i in range(4)]
        res = {"ops": ops, "window_s": 1.0, "layers": {}}
        with self.assertRaises(SystemExit):
            run.summarize("facade_select", res, 0.0, True, 50)


class Inputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            datagen.write_sf001(5, a)
            datagen.write_sf001(5, b)
            for t in pool.TABLES:
                with open(os.path.join(a, f"{t}.parquet"), "rb") as fa, \
                        open(os.path.join(b, f"{t}.parquet"), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), t)
            self.assertEqual(pool.facade_pool(5, a), pool.facade_pool(5, b))

    def test_digest_renders_cells_like_the_jvm_side(self):
        from decimal import Decimal
        self.assertEqual([pool.cell(v) for v in (None, True, 3, 2.5, Decimal("1.10"), "x")],
                         ["NULL", "true", "3", "2.5000", "1.1000", "x"])
        self.assertEqual(pool.digest([(2, "b"), (1, "a")]), pool.digest([(1, "a"), (2, "b")]))

    def test_dedup_pools_are_disjoint(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            out = datagen.write_dedup_inputs(9, d)
            ids = [set(pq.read_table(p).column("doc_id").to_pylist())
                   for p in [out["base"]] + out["pools"]]
            self.assertEqual(sum(map(len, ids)), len(set().union(*ids)))
            self.assertEqual(sum(map(len, ids)), 5000)


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE"), "set PERFBENCH_SMOKE=1")
class Smoke(unittest.TestCase):
    """A few ops of every workload, untraced and traced, end to end."""

    def run_bench(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "perfbench", "run.py"),
             "--workload", workload, "--seed", "11", "--seconds", "1",
             "--trace", str(trace), "--smoke"],
            cwd=run.ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_workloads(self):
        for w in run.WORKLOADS:
            for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
                with self.subTest(workload=w, trace=trace):
                    r = self.run_bench(w, trace)
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertEqual(set(r["metrics"]), {n for n, _ in names})


if __name__ == "__main__":
    unittest.main()
