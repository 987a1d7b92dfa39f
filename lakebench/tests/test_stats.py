"""Tests of the benchmark's own math. Run: python3 -m unittest discover -s lakebench/tests"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5)[0], 50)
        self.assertEqual(stats.percentile(xs, 0.99)[0], 99)
        self.assertEqual(stats.percentile(list(reversed(xs)), 0.9)[0], 90)

    def test_valid_only_with_ten_samples_beyond(self):
        # p99 of n samples sits at rank ceil(0.99 n); n - rank must be >= 10
        self.assertTrue(stats.percentile(range(1000), 0.99)[2])   # rank 990, 10 beyond
        self.assertFalse(stats.percentile(range(999), 0.99)[2])   # rank 990, 9 beyond
        self.assertTrue(stats.percentile(range(20), 0.5)[2])      # rank 10, 10 beyond
        self.assertFalse(stats.percentile(range(19), 0.5)[2])     # rank 10, 9 beyond

    def test_sample_count_and_empty(self):
        v, n, valid = stats.percentile([], 0.5)
        self.assertEqual((n, valid), (0, False))
        self.assertNotEqual(v, v)  # NaN
        self.assertEqual(stats.percentile([3, 1, 2], 0.5)[1], 3)


class SelfTime(unittest.TestCase):
    def test_span_minus_union_of_children(self):
        # overlapping children count once
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (60, 70)]), 60)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 100), [(-50, 10), (90, 150), (200, 300)]), 80)

    def test_no_children(self):
        self.assertEqual(stats.self_time((5, 25), []), 20)

    def test_gaps_between_covered_stretches(self):
        self.assertEqual(stats.gaps([(0, 10), (5, 20), (30, 40), (45, 50)]), [10, 5])


class Freshness(unittest.TestCase):
    FILES = [{"commit_ms": 5000, "created": [0, 100, 900]},
             {"commit_ms": 7000, "created": [1500]}]

    def test_per_event_creation(self):
        got = stats.freshness(self.FILES, lambda c: 1000 + c)
        self.assertEqual(got, [4000, 3900, 3100, 4500])

    def test_backlog_counts_from_release(self):
        got = stats.freshness(self.FILES, lambda c: 1000)
        self.assertEqual(got, [4000, 4000, 4000, 6000])

    def test_dm_lag_uses_last_file_of_a_window(self):
        windows = [{"window_end": "2023-11-14 22:13:30", "commit_ms": 9000, "rows": 3},
                   {"window_end": "2023-11-14 22:13:30", "commit_ms": 9500, "rows": 1},
                   {"window_end": "2023-11-14 22:13:40", "commit_ms": 9700, "rows": 2}]
        end0 = stats.utc_ms("2023-11-14 22:13:30")
        self.assertEqual(end0, 1_700_000_010_000)
        lags = stats.dm_lags(windows, lambda end: 9000 if end == end0 else 9200)
        self.assertEqual(lags, [500, 500])


if __name__ == "__main__":
    unittest.main()
