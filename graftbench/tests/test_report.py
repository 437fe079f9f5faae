"""Tests of run.py's report: which per-layer metrics a traced run must
measure, and that a missing one fails the run.

    python3 -m unittest discover -s graftbench/tests
"""
import io
import json
import os
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import run  # noqa: E402


def sample(q, n_pass, seconds):
    return {"q": q, "pass": n_pass, "offset_s": 0.0, "s": seconds,
            "construct_s": 0.1, "plan_s": 0.01, "gc_s": 0.0,
            "leaked_rdds": 0, "drained_mb": 0.0,
            "counts": {"jobs": 2.0, "tasks": 8.0, "task_cpu_s": 0.2}}


def result(workload, probes):
    """A run JVM's result for `workload` with the given probe values."""
    qs = run.WORKLOADS[workload]["queries"]
    return {
        "setup_s": 5.0, "cpus": 4,
        "cold": [sample(q, 0, 1.0) for q in qs],
        "warm": [sample(q, p, 0.5 + 0.01 * p) for p in (1, 2, 3) for q in qs],
        "kernels_build_s": 1.0, "chunkstore_build_s": 0.0,
        "retained_storage_mb": 0.2, "kernels_storage_mb": 0.2,
        "kernels_build_ratio": 1.0, "heap_after_gc_peak_mb": 300.0,
        "phase_wall_s": {"cold": 3.0}, "run_wall_s": 20.0,
        "probes": probes, "verify": [{"q": q} for q in qs],
    }


def probes_of(workload):
    p = {k: 1.0 for k in run.probed(workload)}
    p.update({"tables.scan_s": 0.2, "tables.scan_mb_per_s": 10.0})
    return p


class ReportTest(unittest.TestCase):
    def setUp(self):
        spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
        self.layer = [m["name"] for m in spec["per_layer"]]

    def report(self, workload, probes):
        return run.report(workload, result(workload, probes), [5.0, 5.1],
                          3, [], True, io.StringIO())

    def test_every_per_layer_metric_is_probed_somewhere(self):
        probed = set().union(*(run.probed(w) for w in run.WORKLOADS))
        for name in self.layer:
            if name.startswith(("kernels.build_s.", "kernels.read_s.", "operators.",
                                "engine.", "functions.", "streaming.")):
                self.assertIn(name, probed)

    def test_complete_trace_passes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                res = self.report(w, probes_of(w))
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertEqual(sorted(res["metrics"]), sorted(self.layer))

    def test_missing_assigned_probe_fails(self):
        for w in run.WORKLOADS:
            probes = probes_of(w)
            for name in sorted(run.probed(w)):
                with self.subTest(workload=w, missing=name):
                    res = self.report(w, {k: v for k, v in probes.items() if k != name})
                    self.assertFalse(res["correct"])
                    self.assertGreaterEqual(res["failed"], 1)
                    self.assertNotIn(name, res["metrics"])

    def test_probe_of_other_workload_reads_zero(self):
        res = self.report("curation", probes_of("curation"))
        for name in run.probed("iterative") - run.probed("curation"):
            self.assertEqual(res["metrics"][name]["value"], 0.0)


if __name__ == "__main__":
    unittest.main()
