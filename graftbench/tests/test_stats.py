"""Tests of the benchmark's statistics helpers and metric names.

    python3 -m unittest discover -s graftbench/tests
"""
import json
import os
import statistics
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)

    def test_even_is_mean_of_middle_pair(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertEqual(stats.median([1.0, 9.0]), 5.0)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.median([])


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        v = [0.9, 1.3, 1.0, 1.1, 1.7, 1.2, 0.95, 1.05, 1.15, 1.4]
        self.assertEqual(stats.quartiles(v), tuple(statistics.quantiles(v, n=4)))

    def test_single_value(self):
        self.assertEqual(stats.quartiles([2.0]), (2.0, 2.0, 2.0))

    def test_spread_is_iqr_over_median(self):
        v = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        self.assertAlmostEqual(stats.spread(v), (q3 - q1) / q2)
        self.assertEqual(stats.spread([7.0]), 0.0)


class TailTest(unittest.TestCase):
    def test_p90_at_100_samples(self):
        v = [float(i) for i in range(1, 101)]
        value, pct, n = stats.tail(v)
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in v if x > value), 10)

    def test_leaves_ten_beyond(self):
        v = [float(i) for i in range(1, 31)]
        value, pct, n = stats.tail(v)
        self.assertEqual(sum(1 for x in v if x > value), 10)
        self.assertEqual(n, 30)
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)

    def test_too_few_samples_gives_max(self):
        self.assertEqual(stats.tail([1.0, 5.0, 2.0]), (5.0, 100.0, 3))
        self.assertEqual(stats.tail([float(i) for i in range(10)]), (9.0, 100.0, 10))


class WinRuleTest(unittest.TestCase):
    def test_ties_count_for_neither(self):
        self.assertEqual(stats.wins([1, 2, 3], [1, 1, 4]), (1, 1, 3))

    def test_direction(self):
        self.assertEqual(stats.wins([1, 1], [2, 2], better="higher"), (2, 0, 2))

    def test_nine_of_ten_improves(self):
        a = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        b = [x - 2.0 for x in a]
        b[0] = a[0] + 0.1  # one loss: 9/10 wins still claims the gain
        self.assertEqual(stats.verdict(a, b, "lower", 0.1), "improved")

    def test_ties_do_not_count_as_wins(self):
        a = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        b = [x - 2.0 for x in a]
        b[0], b[1] = a[0], a[1]  # 8 wins, 2 ties: below nine tenths
        self.assertEqual(stats.verdict(a, b, "lower", 0.1), "no worse")

    def test_gain_must_exceed_parent_iqr(self):
        a = [10.0, 12.0, 8.0, 11.0, 9.0, 10.5, 9.5, 11.5, 8.5, 10.0]
        b = [x - 0.05 for x in a]  # wins every pair, by less than the IQR
        self.assertEqual(stats.verdict(a, b, "lower", 0.25), "no worse")

    def test_a_a_is_no_worse(self):
        a = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        self.assertEqual(stats.verdict(a, list(reversed(a)), "lower", 0.1), "no worse")

    def test_worse_beyond_bound(self):
        a = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        b = [x * 1.3 for x in a]
        self.assertEqual(stats.verdict(a, b, "lower", 0.1), "worse")

    def test_unresolved_when_parent_spread_exceeds_bound(self):
        a = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        b = [x * 1.05 for x in a]
        self.assertEqual(stats.verdict(a, b, "lower", 0.1), "unresolved")


class NameTest(unittest.TestCase):
    def test_rule(self):
        for ok in ["setup_s", "kernels.build_s.partCoEdges", "a-b.c_d", "9x"]:
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"]:
            self.assertFalse(stats.valid_name(bad), bad)

    def test_benchmark_json_names(self):
        spec = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
        names = [w["name"] for w in spec["workloads"]] + \
            [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)


if __name__ == "__main__":
    unittest.main()
