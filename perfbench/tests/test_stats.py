"""The benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests -t perfbench
"""
import unittest

import stats


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        # the reported percentile must leave at least ten samples beyond it
        self.assertIsNone(stats.supported_percentile(19))
        self.assertEqual(stats.supported_percentile(20), 50)
        self.assertEqual(stats.supported_percentile(39), 50)
        self.assertEqual(stats.supported_percentile(40), 75)
        self.assertEqual(stats.supported_percentile(42), 75)
        self.assertEqual(stats.supported_percentile(100), 90)
        self.assertEqual(stats.supported_percentile(200), 95)
        self.assertEqual(stats.supported_percentile(1000), 99)
        for n in range(1, 300):
            q = stats.supported_percentile(n)
            if q is not None:
                self.assertGreaterEqual(stats.beyond(n, q), 10)

    def test_beyond_counts_samples_above_the_rank(self):
        # 42 samples: the 75th percentile is the 32nd, 10 lie beyond it
        self.assertEqual(stats.beyond(42, 75), 10)
        self.assertEqual(stats.beyond(20, 50), 10)
        self.assertEqual(stats.beyond(1, 50), 0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (20, 25)]), 15)
        self.assertEqual(stats.union_length([(5, 5), (1, 0)]), 0)
        self.assertEqual(stats.union_length([(10, 20), (0, 10)]), 20)

    def test_self_time_counts_overlapping_children_once(self):
        # parent 0..100, children 10..40 and 30..60 overlap on 30..40
        self.assertEqual(stats.self_time(0, 100, [(10, 40), (30, 60)]), 50)
        # a child nested in another adds nothing
        self.assertEqual(stats.self_time(0, 100, [(10, 60), (20, 30)]), 50)
        # children sticking out of the parent are clipped to it
        self.assertEqual(stats.self_time(0, 100, [(-50, 10), (90, 150)]), 80)
        self.assertEqual(stats.self_time(0, 100, []), 100)

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        # jobs 0..20 and 10..30 (concurrent), 50..60; span 0..100
        self.assertEqual(stats.driver_gap(0, 100, [(0, 20), (10, 30), (50, 60)]), 60)
        # jobs fully covering the span leave no gap
        self.assertEqual(stats.driver_gap(0, 100, [(0, 60), (40, 100)]), 0)
        # a job outside the span does not count
        self.assertEqual(stats.driver_gap(0, 100, [(200, 300)]), 100)


if __name__ == "__main__":
    unittest.main()
