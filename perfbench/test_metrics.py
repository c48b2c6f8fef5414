"""Tests of the benchmark's metric math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics as M


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(M.percentile(range(99), 0.9))
        self.assertEqual(M.samples_beyond(100, 0.9), 10)
        self.assertEqual(M.percentile(range(1, 101), 0.9), 90)

    def test_nearest_rank(self):
        vals = list(range(1, 201))
        self.assertEqual(M.percentile(vals, 0.9), 180)
        self.assertEqual(M.percentile(vals, 0.95), 190)
        self.assertIsNone(M.percentile(vals, 0.99))  # 2 beyond

    def test_order_does_not_matter(self):
        vals = [5, 1, 4, 2, 3] * 30
        self.assertEqual(M.percentile(vals, 0.9), M.percentile(sorted(vals), 0.9))

    def test_median_is_the_midpoint_median(self):
        self.assertEqual(M.percentile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(M.percentile([7], 0.5), 7)
        self.assertIsNone(M.percentile([], 0.5))


class TaskIntervalUnion(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 30)], 0, 40), 25)

    def test_clipped_to_window(self):
        self.assertEqual(M.union_length([(-5, 5), (35, 50)], 0, 40), 10)

    def test_nested_and_touching(self):
        self.assertEqual(M.union_length([(0, 10), (2, 3), (10, 12)], 0, 100), 12)

    def test_outside_window_ignored(self):
        self.assertEqual(M.union_length([(50, 60)], 0, 40), 0)

    def test_busy_plus_idle_is_the_window(self):
        ivs = [(1, 4), (2, 6), (9, 10), (12, 30)]
        busy, idle = M.busy_and_idle(ivs, 0, 20)
        self.assertEqual(busy, 5 + 1 + 8)
        self.assertEqual(busy + idle, 20)

    def test_no_tasks_is_all_idle(self):
        self.assertEqual(M.busy_and_idle([], 3, 7), (0, 4))


class FailRatio(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(M.fail_ratio(8, 0), 0.0)
        self.assertEqual(M.fail_ratio(8, 2), 0.25)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            M.fail_ratio(0, 0)
        with self.assertRaises(ValueError):
            M.fail_ratio(3, 4)


class Skew(unittest.TestCase):
    def test_longest_over_median(self):
        self.assertEqual(M.skew([10, 10, 10]), 1.0)
        self.assertEqual(M.skew([10, 10, 40]), 4.0)


if __name__ == "__main__":
    unittest.main()
