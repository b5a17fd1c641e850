"""Tests of the benchmark's order statistics.

    python3 -m unittest discover -s graftbench/tests
"""

import pathlib
import random
import statistics
import sys
import unittest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even_counts(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_matches_statistics_module(self):
        rng = random.Random(7)
        for n in range(1, 40):
            xs = [rng.uniform(0, 100) for _ in range(n)]
            self.assertAlmostEqual(stats.median(xs), statistics.median(xs))

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.median([])


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(stats.percentile(xs, 0.0), 10)
        self.assertEqual(stats.percentile(xs, 1.0), 50)
        self.assertEqual(stats.percentile(xs, 0.5), 30)
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 46.0)

    def test_single_value(self):
        self.assertEqual(stats.percentile([4.2], 0.9), 4.2)

    def test_rejects_bad_q(self):
        with self.assertRaises(ValueError):
            stats.percentile([1, 2], 1.5)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        rng = random.Random(11)
        for n in range(2, 40):
            xs = [rng.uniform(0, 10) for _ in range(n)]
            q1, _, q3 = statistics.quantiles(xs, n=4)
            got = stats.quartiles(xs)
            self.assertAlmostEqual(got[0], q1, msg=f"n={n}")
            self.assertAlmostEqual(got[1], q3, msg=f"n={n}")

    def test_relative_spread(self):
        xs = [9.0, 10.0, 10.0, 10.0, 11.0, 10.0, 10.0, 9.5, 10.5, 10.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.relative_spread(xs), (q3 - q1) / statistics.median(xs))

    def test_needs_two_values(self):
        with self.assertRaises(ValueError):
            stats.quartiles([1.0])


if __name__ == "__main__":
    unittest.main()
