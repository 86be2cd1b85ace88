"""Tests for the A/B compare rules (run: python3 -m unittest discover perfbench/tests)."""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import ab  # noqa: E402


class CompareTest(unittest.TestCase):
    def test_clear_gain_is_improved(self):
        parent = [1.00, 1.02, 0.98, 1.01, 0.99, 1.00, 1.03, 0.97, 1.01, 1.00]
        change = [0.80, 0.82, 0.79, 0.81, 0.80, 0.78, 0.83, 0.80, 0.81, 0.79]
        r = ab.compare(parent, change, "lower", 0.1)
        self.assertEqual(r["verdict"], "improved")
        self.assertEqual(r["wins"], 10)
        self.assertAlmostEqual(r["win_fraction"], 1.0)

    def test_eight_of_ten_wins_is_not_a_gain(self):
        parent = [1.0] * 10
        change = [0.9] * 8 + [1.1, 1.1]
        r = ab.compare(parent, change, "lower", 0.2)
        self.assertEqual(r["wins"], 8)
        self.assertNotEqual(r["verdict"], "improved")

    def test_gap_must_exceed_parent_iqr(self):
        parent = [0.6, 0.8, 1.0, 1.2, 1.4, 0.6, 0.8, 1.0, 1.2, 1.4]
        change = [p - 0.01 for p in parent]
        r = ab.compare(parent, change, "lower", 0.25)
        self.assertEqual(r["wins"], 10)
        self.assertNotEqual(r["verdict"], "improved")

    def test_ties_count_for_neither_side(self):
        r = ab.compare([1.0, 1.0, 2.0], [1.0, 0.5, 2.0], "lower", 0.1)
        self.assertEqual((r["wins"], r["losses"]), (1, 0))

    def test_regression_beyond_bound(self):
        parent = [1.0, 1.01, 0.99, 1.0, 1.0, 1.02, 0.98, 1.0, 1.01, 0.99]
        change = [x * 1.2 for x in parent]
        r = ab.compare(parent, change, "lower", 0.1)
        self.assertEqual(r["verdict"], "regressed")
        self.assertAlmostEqual(r["worse_by"], 0.2, places=6)

    def test_higher_is_better_direction(self):
        parent = [100.0 + i % 3 for i in range(10)]
        change = [80.0 + i % 3 for i in range(10)]
        self.assertEqual(ab.compare(parent, change, "higher", 0.1)["verdict"], "regressed")
        self.assertEqual(ab.compare(change, parent, "higher", 0.1)["verdict"], "improved")

    def test_wide_spread_is_unresolved(self):
        parent = [1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0]
        change = [2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0]
        r = ab.compare(parent, change, "lower", 0.1)
        self.assertEqual(r["verdict"], "unresolved")

    def test_wide_spread_but_every_run_better_is_resolved(self):
        parent = [10.0, 20.0, 10.0, 20.0, 10.0, 20.0, 10.0, 20.0, 10.0, 20.0]
        change = [9.0, 5.0, 9.0, 5.0, 9.0, 5.0, 9.0, 5.0, 9.0, 5.0]
        r = ab.compare(parent, change, "lower", 0.1)
        self.assertNotEqual(r["verdict"], "unresolved")

    def test_quartiles_match_statistics_quantiles(self):
        q1, med, q3 = ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
        self.assertEqual((q1, med, q3), (2.75, 5.5, 8.25))


class ReportTest(unittest.TestCase):
    def test_one_row_per_workload_and_metric_from_saved_runs(self):
        spec = {"end_to_end": [{"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.1},
                               {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}]}
        runs = {w: {"parent": [{"pass_s": 1.0 + i / 100, "setup_s": 5.0} for i in range(10)],
                    "change": [{"pass_s": 1.0 + i / 100, "setup_s": 5.0} for i in range(10)]}
                for w in ("a", "b")}
        rows = ab.report(runs, spec)
        self.assertEqual([(r["workload"], r["metric"]) for r in rows],
                         [("a", "pass_s"), ("a", "setup_s"), ("b", "pass_s"), ("b", "setup_s")])
        self.assertTrue(all(r["verdict"] == "unchanged" for r in rows))
        with tempfile.TemporaryDirectory() as d:
            spec_path, runs_path = os.path.join(d, "spec.json"), os.path.join(d, "runs.json")
            with open(spec_path, "w") as f:
                json.dump(spec, f)
            with open(runs_path, "w") as f:
                json.dump(runs, f)
            self.assertEqual(ab.main(["--spec", spec_path, "--report", runs_path]), 0)


if __name__ == "__main__":
    unittest.main()
