"""End-to-end checks that run the benchmark itself (each run builds the
engine if needed and takes one to two minutes, so they are skipped unless
PERFBENCH_LIVE=1):

    PERFBENCH_LIVE=1 python3 -m unittest perfbench/tests/test_live.py

Run from the repository root.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bench(workload, seed, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "8", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    return proc.returncode, out


@unittest.skipUnless(os.environ.get("PERFBENCH_LIVE") == "1", "set PERFBENCH_LIVE=1")
class LiveTest(unittest.TestCase):
    def test_api_counts_do_not_depend_on_the_op_order(self):
        # the seed shuffles the op order; an op's request counts must not
        # depend on which op ran before it
        seen = []
        for seed in (3, 4):
            rc, out = bench("ingest_stream", seed, 1)
            self.assertEqual(rc, 0)
            self.assertTrue(out["correct"])
            m = out["metrics"]
            seen.append((m["sources.api_attempts"]["value"], m["sources.api_pages"]["value"]))
        self.assertEqual(seen[0], seen[1])
        self.assertGreater(seen[0][1], 0)


if __name__ == "__main__":
    unittest.main()
