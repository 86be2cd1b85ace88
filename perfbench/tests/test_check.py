"""Tests for the per-op output verdicts (run: python3 -m unittest discover perfbench/tests)."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402


def run(op, rows, digest="7", error=None):
    return {"op": op, "rows": rows, "digest": digest, "error": error}


def result(warm, timed, write_errors=None):
    return {"warm": warm, "passes": [{"samples": timed}],
            "oracle_write_errors": write_errors or {}}


class OpFailuresTest(unittest.TestCase):
    def test_consistent_op_matching_its_oracle_passes(self):
        res = result([run("q", 5), run("q", 5)], [run("q", 5)])
        self.assertEqual(check.op_failures(res, {"q": (None, 5)}), {})

    def test_row_count_must_match_the_oracle_checked_output(self):
        # every execution agrees with the others, but not with the output
        # the oracle approved
        res = result([run("q", 4), run("q", 4)], [run("q", 4)])
        bad = check.op_failures(res, {"q": (None, 5)})
        self.assertIn("q", bad)
        self.assertIn("5", bad["q"])

    def test_oracle_mismatch_is_reported(self):
        res = result([run("q", 5)], [run("q", 5)])
        bad = check.op_failures(res, {"q": ("values differ (got 5 rows, want 6)", 5)})
        self.assertTrue(bad["q"].startswith("oracle: values differ"))

    def test_op_without_oracle_needs_only_consistency(self):
        res = result([run("s", 3)], [run("s", 3)])
        self.assertEqual(check.op_failures(res, {}), {})

    def test_digest_change_between_executions_fails(self):
        res = result([run("s", 3, "1")], [run("s", 3, "2")])
        self.assertIn("content differs", check.op_failures(res, {})["s"])

    def test_empty_and_throwing_ops_fail(self):
        res = result([run("e", 0), run("t", 0, error="Boom: x")], [run("e", 0), run("t", 0)])
        bad = check.op_failures(res, {})
        self.assertEqual(bad["e"], "empty result")
        self.assertIn("Boom", bad["t"])


if __name__ == "__main__":
    unittest.main()
