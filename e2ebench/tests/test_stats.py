"""Percentiles on fixed samples, and the metric-name rules."""
import json
import os
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_known_values(self):
        xs = [15, 20, 35, 40, 50]
        self.assertEqual(stats.percentile(xs, 0), 15)
        self.assertEqual(stats.percentile(xs, 100), 50)
        self.assertEqual(stats.percentile(xs, 50), 35)
        self.assertAlmostEqual(stats.percentile(xs, 40), 29.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 46.0)

    def test_order_does_not_matter(self):
        self.assertAlmostEqual(stats.percentile([50, 15, 40, 20, 35], 90), 46.0)

    def test_p90_of_one_to_ten(self):
        self.assertAlmostEqual(stats.percentile(list(range(1, 11)), 90), 9.1)

    def test_median(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7]), 7)

    def test_bad_input(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1], 101)


class NameTest(unittest.TestCase):
    def test_rule(self):
        for ok in ("exec.core_busy", "q_ann_ivf_pq.jobs", "ml.fit.naive_bayes.ms", "setup_s"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", ".ms", "a b", "op/ms", "x" * 65, "é.ms"):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_benchmark_file_names(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            bench = json.load(f)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)


if __name__ == "__main__":
    unittest.main()
