"""Tests of the benchmark itself.

  python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke tests build the engine and run every workload at tiny size
(about three minutes).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertRaises(ValueError, stats.median, [])

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4)
        self.assertRaises(ValueError, stats.geomean, [])
        self.assertRaises(ValueError, stats.geomean, [1, 0])

    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 107))  # 106 leaves: p90 has 10 beyond, p95 has 5
        self.assertEqual(stats.tail(xs), (90, 96))
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90))
        self.assertEqual(stats.tail(list(range(1, 1011))), (99, 1000))
        self.assertEqual(stats.tail(list(range(40))), (75, 29))
        self.assertEqual(stats.tail(list(range(20))), (50, 9))
        self.assertIsNone(stats.tail(list(range(19))))

    def test_metric_names(self):
        for ok in ("setup_s", "engine.jobs", "leaf.q_knn_join_s", "a-b", "9x"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, None, "é"):
            self.assertFalse(stats.valid_name(bad), bad)


class SpecTest(unittest.TestCase):
    def test_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(stats.valid_name(n) for n in names))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual(max(m["bound"] for m in spec["end_to_end"]),
                         setup[0]["bound"])
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)
        self.assertEqual(sorted(layers["per_layer"]),
                         sorted(m["name"] for m in spec["per_layer"]))


def run(workload, *extra):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--scale", "tiny"] + list(extra),
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600)
    return proc.returncode, json.loads(proc.stdout.splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def test_workloads_pass_their_gate(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for w in spec["workloads"]:
            code, out = run(w["name"], "--trace", "0")
            self.assertEqual(code, 0)
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(out["correct"], w["name"])
            self.assertEqual(out["failed"], 0)
            self.assertEqual(sorted(out["metrics"]),
                             sorted(m["name"] for m in spec["end_to_end"]))
            self.assertTrue(all(v["value"] > 0 for v in out["metrics"].values()))

    def test_forced_failure_is_counted(self):
        for w in ("tile", "catalog"):
            code, out = run(w, "--trace", "0", "--inject-fault")
            self.assertEqual(code, 0)
            self.assertFalse(out["correct"])
            self.assertGreaterEqual(out["failed"], 1)
            self.assertLess(out["failed"], out["attempted"])

    def test_traced_run_reports_every_layer(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        code, out = run("join", "--trace", "1")
        self.assertEqual(code, 0)
        self.assertTrue(out["correct"])
        self.assertEqual(sorted(out["metrics"]),
                         sorted(m["name"] for m in spec["per_layer"]))
        self.assertGreater(out["metrics"]["engine.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
