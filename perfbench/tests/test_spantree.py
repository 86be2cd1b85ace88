"""Tests for span assembly and self times (run: python3 -m unittest discover perfbench/tests)."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spantree  # noqa: E402


def sample(i, start, build, plan, end, op="q"):
    return {"op": op, "id": i, "start": start, "build_end": build, "plan_end": plan,
            "end": end, "error": None}


class SpanTreeTest(unittest.TestCase):
    def test_self_times_add_up_to_op_wall(self):
        p = {"samples": [sample(0, 0.0, 10.0, 12.0, 40.0), sample(1, 40.0, 45.0, 46.0, 60.0)],
             "jobs": [{"job": 1, "start": 2.0, "end": 8.0, "group": "perfbench-0"},
                      {"job": 2, "start": 13.0, "end": 30.0, "group": "perfbench-0"},
                      {"job": 3, "start": 20.0, "end": 39.0, "group": "perfbench-0"},
                      {"job": 4, "start": 47.0, "end": 70.0, "group": "other"}],
             "stages": [{"stage": 1, "job": 2, "start": 14.0, "end": 29.0, "tasks": 4},
                        {"stage": 2, "job": 3, "start": 21.0, "end": 38.0, "tasks": 4}],
             "triggers": [{"start": 3.0, "trigger_ms": 4.0, "batch": 0}]}
        spans = []
        ops = spantree.pass_spans(p, spans)
        selfs = spantree.self_times(spans)
        for op in ops:
            total = sum(selfs[s["id"]] for s in spans if s["op_id"] == op["op_id"])
            self.assertAlmostEqual(total, op["end"] - op["start"], places=9)

    def test_parents_and_clipping(self):
        p = {"samples": [sample(7, 100.0, 110.0, 111.0, 150.0)],
             "jobs": [{"job": 9, "start": 105.0, "end": 109.0, "group": ""},
                      {"job": 10, "start": 120.0, "end": 155.0, "group": "perfbench-7"}],
             "stages": [], "triggers": []}
        spans = []
        spantree.pass_spans(p, spans)
        by = {(s["name"], s.get("job")): s for s in spans}
        build, exec_ = by[("build", None)], by[("exec", None)]
        self.assertEqual(by[("job", 9)]["parent"], build["id"])
        self.assertEqual(by[("job", 10)]["parent"], exec_["id"])
        self.assertEqual(by[("job", 10)]["end"], 150.0)

    def test_concurrent_leaves_share_time(self):
        spans = [{"id": 0, "parent": None, "name": "op", "start": 0.0, "end": 10.0},
                 {"id": 1, "parent": 0, "name": "exec", "start": 0.0, "end": 10.0},
                 {"id": 2, "parent": 1, "name": "stage", "start": 0.0, "end": 10.0},
                 {"id": 3, "parent": 1, "name": "stage", "start": 5.0, "end": 10.0}]
        s = spantree.self_times(spans)
        self.assertAlmostEqual(s[2], 7.5)
        self.assertAlmostEqual(s[3], 2.5)
        self.assertAlmostEqual(s[0] + s[1], 0.0)

    def test_union(self):
        self.assertEqual(spantree.union_ms([(0, 5), (3, 8), (10, 12), (11, 20)], 0, 15), 13)


if __name__ == "__main__":
    unittest.main()
