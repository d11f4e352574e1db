"""Pins the summary math of tools/abpairs.py.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import shutil
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import abpairs  # noqa: E402


class QuantileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(abpairs.quantile(xs, 0.5), 2.5)
        self.assertEqual(abpairs.quantile(xs, 0.25), 1.75)
        self.assertEqual(abpairs.quantile(xs, 0.75), 3.25)
        self.assertEqual(abpairs.quantile(xs, 0.0), 1.0)
        self.assertEqual(abpairs.quantile(xs, 1.0), 4.0)

    def test_single_sample(self):
        self.assertEqual(abpairs.quantile([7.0], 0.25), 7.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            abpairs.quantile([], 0.5)


class SummaryTest(unittest.TestCase):
    def test_lower_is_better(self):
        a = [1.0, 1.1, 1.2, 1.3, 1.4]
        b = [0.9, 1.2, 1.0, 1.2, 1.3]
        s = abpairs.summary(a, b, "lower", 0.25)
        self.assertEqual(s["a"], {"median": 1.2, "q1": 1.1, "q3": 1.3})
        self.assertEqual(s["b"], {"median": 1.2, "q1": 1.0, "q3": 1.2})
        self.assertEqual(s["wins"], 4)  # every pair but pair 1
        self.assertAlmostEqual(s["change"], 0.0)
        self.assertEqual(s["verdict"], "within bound")

    def test_higher_is_better_counts_wins_upwards(self):
        s = abpairs.summary([10.0, 10.0, 10.0], [11.0, 9.0, 12.0], "higher", 0.25)
        self.assertEqual(s["wins"], 2)
        self.assertAlmostEqual(s["change"], 0.1)
        self.assertEqual(s["verdict"], "within bound")

    def test_worse_beyond_bound(self):
        s = abpairs.summary([1.0, 1.0, 1.0], [1.5, 1.5, 1.5], "lower", 0.25)
        self.assertEqual(s["wins"], 0)
        self.assertAlmostEqual(s["change"], 0.5)
        self.assertEqual(s["verdict"], "worse")
        s = abpairs.summary([10.0, 10.0], [7.0, 7.0], "higher", 0.25)
        self.assertEqual(s["verdict"], "worse")

    def test_wide_spread_is_unresolved(self):
        # B's quartiles span 0.5 around a median of 1.5: spread 1/3 > 0.25
        s = abpairs.summary([1.0, 1.0, 1.0], [1.0, 1.5, 2.0], "lower", 0.25)
        self.assertAlmostEqual(s["spread"], 1 / 3)
        self.assertEqual(s["verdict"], "unresolved")

    def test_wide_spread_but_every_run_better(self):
        s = abpairs.summary([2.0, 3.0, 4.0], [0.5, 1.0, 1.5], "lower", 0.25)
        self.assertEqual(s["verdict"], "better in every run")
        s = abpairs.summary([2.0, 3.0, 4.0], [5.0, 6.0, 8.0], "higher", 0.25)
        self.assertEqual(s["verdict"], "better in every run")

    def test_unpaired_samples_are_an_error(self):
        with self.assertRaises(ValueError):
            abpairs.summary([1.0], [1.0, 2.0], "lower", 0.25)


class TallyTest(unittest.TestCase):
    def test_counts_dropped_pairs_and_failures_per_side(self):
        ok = {"correct": True, "failed": 0}
        wrong = {"correct": False, "failed": 3}
        pairs = [{"A": ok, "B": ok},
                 {"A": ok, "B": {"error": "exit 1"}},
                 {"A": {"error": "timed out after 600 s"}, "B": wrong},
                 {"A": wrong, "B": ok}]
        t = abpairs.tally(pairs)
        self.assertEqual(t["dropped"], 2)
        self.assertEqual(t["A"], {"runs": 4, "no_result": 1, "correct": 2,
                                  "failed_ops": 3})
        self.assertEqual(t["B"], {"runs": 4, "no_result": 1, "correct": 2,
                                  "failed_ops": 3})


class RunOnceTest(unittest.TestCase):
    """run_once on a stand-in perfbench/run.py."""

    def tree(self, body):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d)
        os.makedirs(os.path.join(d, "perfbench"))
        with open(os.path.join(d, "perfbench", "run.py"), "w") as f:
            f.write(body)
        return d

    def test_non_zero_exit_is_a_failed_run(self):
        d = self.tree("import sys; print('{}'); sys.exit(1)\n")
        self.assertEqual(abpairs.run_once(d, "join", 1, 6), {"error": "exit 1"})

    def test_no_output_is_a_failed_run(self):
        d = self.tree("pass\n")
        self.assertEqual(abpairs.run_once(d, "join", 1, 6), {"error": "no output"})

    def test_timeout_is_a_failed_run(self):
        d = self.tree("import time; time.sleep(60)\n")
        with mock.patch.object(abpairs, "RUN_TIMEOUT_S", 1):
            self.assertEqual(abpairs.run_once(d, "join", 1, 6),
                             {"error": "timed out after 1 s"})


if __name__ == "__main__":
    unittest.main()
