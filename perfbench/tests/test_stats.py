import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 90), 7)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_rank_rounds_up(self):
        # 0.9 * 11 = 9.9 -> the 10th smallest sample
        self.assertEqual(stats.percentile(list(range(11)), 90), 9)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailTest(unittest.TestCase):
    def test_samples_beyond_p90(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertEqual(stats.beyond(10, 90), 1)

    def test_ten_beyond_p90_needs_a_hundred_samples(self):
        self.assertEqual(min(n for n in range(1, 200) if stats.beyond(n, 90) >= 10), 100)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, med, q3 = stats.quartiles(xs)
        e1, e2, e3 = statistics.quantiles(xs, n=4)
        self.assertEqual((q1, q3), (e1, e3))
        self.assertEqual(med, statistics.median(xs))

    def test_spread_is_iqr_over_median(self):
        xs = [10.0] * 5 + [12.0] * 5
        q1, med, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)
        self.assertEqual(stats.spread([4.0, 4.0, 4.0]), 0.0)


if __name__ == "__main__":
    unittest.main()
