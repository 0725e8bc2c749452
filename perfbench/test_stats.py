"""Tests of the benchmark's own maths: python3 -m unittest perfbench/test_stats.py"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [7.0, 1.0, 3.0, 9.0, 5.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[2]))
        self.assertEqual(stats.quartiles(xs), (2.75, 8.25))
        with self.assertRaises(ValueError):
            stats.quartiles([1.0])

    def test_spread_is_iqr_over_median(self):
        xs = [10.0] * 5 + [11.0] * 5
        q1, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 10.5)
        self.assertEqual(stats.spread([4.0, 4.0, 4.0]), 0.0)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        # each op weighs the same: a 10x gain on the small op moves the
        # geomean as much as a 10x gain on the large one
        self.assertAlmostEqual(stats.geomean([10, 8000]), stats.geomean([100, 800]))
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])

    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 45))  # 44 samples
        p, v, n = stats.tail(xs)
        self.assertEqual((p, v, n), (77, 34, 44))
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        # one percentile higher would leave only nine beyond
        self.assertEqual(sum(1 for x in xs if x > 35), 9)

    def test_tail_of_100_is_p90(self):
        p, v, n = stats.tail(list(range(1, 101)))
        self.assertEqual((p, v, n), (90, 90, 100))

    def test_tail_needs_twenty_samples(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(1, 21)))[0], 50)

    def test_union_and_clip(self):
        self.assertEqual(stats.union_ms([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)
        self.assertEqual(stats.union_ms([]), 0)
        self.assertEqual(stats.clip([(0, 10), (20, 30)], 5, 25), [(5, 10), (20, 25)])


if __name__ == "__main__":
    unittest.main()
