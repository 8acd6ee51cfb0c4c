"""Tests for the percentile and sample-count rule: python3 -m unittest discover perfbench"""
import statistics
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_matches_statistics_inclusive(self):
        xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3, 5.8, 9.7, 3.2, 3.8]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 25), q1)
        self.assertAlmostEqual(stats.median(xs), q2)
        self.assertAlmostEqual(stats.percentile(xs, 75), q3)
        self.assertEqual(stats.median(xs), statistics.median(xs))

    def test_edges(self):
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        self.assertEqual(stats.percentile([1.0, 2.0], 0), 1.0)
        self.assertEqual(stats.percentile([1.0, 2.0], 100), 2.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class UpperRuleTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.upper(list(range(39))))
        self.assertEqual(stats.upper(list(range(40)))[0], 75.0)
        self.assertEqual(stats.upper(list(range(100)))[0], 90.0)
        self.assertEqual(stats.upper(list(range(199)))[0], 90.0)
        self.assertEqual(stats.upper(list(range(200)))[0], 95.0)
        self.assertEqual(stats.upper(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.upper(list(range(10000)))[0], 99.9)

    def test_summary_reports_n(self):
        s = stats.summary([1.0, 2.0, 3.0])
        self.assertEqual((s["n"], s["median"], s["upper_p"]), (3, 2.0, None))


if __name__ == "__main__":
    unittest.main()
