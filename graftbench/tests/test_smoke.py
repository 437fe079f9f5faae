"""One-run smoke of every workload at sf0.001, untraced and traced:
every metric BENCHMARK.json names must be emitted, and every check pass.
Builds the engine first if needed; takes a few minutes, so it runs only
with GRAFTBENCH_SMOKE=1:

    GRAFTBENCH_SMOKE=1 python3 -m unittest discover -s graftbench/tests
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


@unittest.skipUnless(os.environ.get("GRAFTBENCH_SMOKE") == "1",
                     "set GRAFTBENCH_SMOKE=1 to run the benchmark smoke")
class SmokeTest(unittest.TestCase):
    def test_every_metric_on_every_workload(self):
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        for w in spec["workloads"]:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    out = subprocess.run(
                        [sys.executable, os.path.join(BENCH, "run.py"),
                         "--workload", w["name"], "--seed", "1", "--seconds", "1",
                         "--trace", str(trace), "--sf", "0.001"],
                        cwd=ROOT, capture_output=True, text=True, timeout=600)
                    self.assertEqual(out.returncode, 0, out.stderr[-2000:])
                    res = json.loads(out.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual(sorted(res["metrics"]),
                                     sorted(m["name"] for m in spec[kind]))
                    for m in spec[kind]:
                        self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])


if __name__ == "__main__":
    unittest.main()
