"""Tests of the benchmark's statistics helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)

    def test_rank_rounds_up(self):
        # ceil(0.9 * 11) = 10th smallest, not an interpolated value
        self.assertEqual(stats.percentile(range(1, 12), 90), 10)
        self.assertEqual(stats.percentile([3.0], 50), 3.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_rejects_bad_input(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1, 2], 0)
        with self.assertRaises(ValueError):
            stats.percentile([1, 2], 101)


class BeyondRuleTest(unittest.TestCase):
    def test_ten_beyond_p90_needs_100_samples(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertTrue(stats.reportable(100, 90))
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertFalse(stats.reportable(99, 90))

    def test_p99_needs_1000_samples(self):
        self.assertTrue(stats.reportable(1000, 99))
        self.assertFalse(stats.reportable(999, 99))

    def test_tail_picks_highest_reportable(self):
        self.assertIsNone(stats.tail(list(range(99))))
        p, v = stats.tail(list(range(1, 201)))
        self.assertEqual((p, v), (95, 190))  # 10 samples beyond rank 190
        p, _ = stats.tail(list(range(1, 1001)))
        self.assertEqual(p, 99)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.1, 2.9, 3.4, 3.0, 2.8, 3.3, 3.2, 2.7, 3.6, 3.05]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)

    def test_median(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


if __name__ == "__main__":
    unittest.main()
