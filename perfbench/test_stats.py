"""Tests of the benchmark's statistics helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

BOUNDS = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "read_p50_ms", "unit": "ms", "better": "lower", "bound": 0.1},
    {"name": "ops_per_s", "unit": "op/s", "better": "higher", "bound": 0.1},
]


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(values, 0.9), 90)
        self.assertEqual(stats.percentile(values, 0.5), 50)
        self.assertEqual(stats.percentile(list(reversed(values)), 0.9), 90)

    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertEqual(stats.tail(list(range(1, 101)), 0.9), (90, 0.9))
        self.assertEqual(stats.tail(list(range(1, 201)), 0.9), (180, 0.9))
        self.assertEqual(stats.beyond(99, 0.9), 9)

    def test_short_runs_report_the_highest_tail_they_have(self):
        for n in (30, 57, 80, 99):
            value, share = stats.tail(list(range(1, n + 1)), 0.9)
            self.assertLess(share, 0.9)
            self.assertEqual(n - value, 10, n)  # exactly ten samples beyond

    def test_tail_of_few_samples_is_the_median(self):
        self.assertEqual(stats.tail([5.0, 1.0, 3.0], 0.9), (3.0, 0.5))
        self.assertEqual(stats.tail(list(range(1, 19)), 0.9), (9.5, 0.5))

    def test_rejects_empty_and_bad_share(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)
        with self.assertRaises(ValueError):
            stats.percentile([1.0], 1.0)
        with self.assertRaises(ValueError):
            stats.median([])


class FailureRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.failure_ratio(40, 0), 0.0)
        self.assertAlmostEqual(stats.failure_ratio(40, 1), 0.025)
        self.assertEqual(stats.failure_ratio(3, 3), 1.0)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            stats.failure_ratio(0, 0)
        with self.assertRaises(ValueError):
            stats.failure_ratio(5, 6)
        with self.assertRaises(ValueError):
            stats.failure_ratio(5, -1)


class AgreementTest(unittest.TestCase):
    def steady(self, centre):
        return [centre * (1 + d) for d in (-0.02, -0.01, 0.0, 0.01, 0.02, 0.0, 0.01, -0.01, 0.0, 0.0)]

    def sets(self, read=100.0, ops=10.0, setup=5.0):
        return {"setup_s": self.steady(setup), "read_p50_ms": self.steady(read),
                "ops_per_s": self.steady(ops)}

    def test_equal_sets_agree(self):
        self.assertEqual(stats.agree(self.sets(), self.sets(), BOUNDS), [])

    def test_spread_is_iqr_over_median(self):
        values = [90.0, 95.0, 100.0, 105.0, 110.0]
        q1, q2, q3 = 92.5, 100.0, 107.5  # statistics.quantiles, exclusive method
        self.assertAlmostEqual(stats.spread(values), (q3 - q1) / q2)

    def test_slower_second_median_beyond_bound_fails(self):
        problems = stats.agree(self.sets(), self.sets(read=115.0), BOUNDS)
        self.assertEqual(len(problems), 1)
        self.assertIn("read_p50_ms", problems[0])

    def test_direction_follows_better(self):
        # fewer operations per second is worse, more is better
        self.assertEqual(len(stats.agree(self.sets(), self.sets(ops=8.5), BOUNDS)), 1)
        self.assertEqual(stats.agree(self.sets(), self.sets(ops=12.0), BOUNDS), [])
        self.assertEqual(stats.agree(self.sets(), self.sets(read=80.0), BOUNDS), [])

    def test_wide_spread_fails(self):
        wide = self.sets()
        wide["read_p50_ms"] = [60.0, 80.0, 100.0, 120.0, 140.0] * 2
        wide["setup_s"] = [2.0, 4.0, 5.0, 6.0, 8.0] * 2
        problems = stats.agree(self.sets(), wide, BOUNDS)
        self.assertEqual(sorted(p.split(":")[0] for p in problems), ["read_p50_ms", "setup_s"])


if __name__ == "__main__":
    unittest.main()
