"""Tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_nearest_ranks(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(stats.percentile(xs, 0), 10)
        self.assertEqual(stats.percentile(xs, 100), 40)
        self.assertAlmostEqual(stats.percentile(xs, 50), 25)
        self.assertAlmostEqual(stats.percentile(xs, 90), 37)

    def test_order_of_input_does_not_matter(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), stats.percentile([1, 2, 3], 50))

    def test_single_sample(self):
        self.assertEqual(stats.percentile([7.5], 90), 7.5)

    def test_failed_op_misses_every_limit(self):
        # one failure in ten: p50 is untouched, p90 reaches into the failure
        xs = [float(i) for i in range(1, 10)] + [math.inf]
        self.assertAlmostEqual(stats.percentile(xs, 50), 5.5)
        self.assertEqual(stats.percentile(xs, 95), math.inf)
        self.assertEqual(stats.percentile([math.inf, math.inf], 50), math.inf)

    def test_exact_rank_next_to_a_failure_stays_finite(self):
        self.assertEqual(stats.percentile([1.0, 2.0, math.inf], 50), 2.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([self.span(1, -1, 0, 10)]), {1: 10})

    def test_children_are_subtracted(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 50, 60)]
        self.assertEqual(stats.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 10, 50), self.span(3, 1, 40, 70)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_grandchildren_belong_to_their_parent(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 0, 50), self.span(3, 2, 10, 40)]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 20, 3: 30})

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, -1, 10, 20), self.span(2, 1, 15, 40)]
        self.assertEqual(stats.self_times(spans)[1], 5)


class CoveredTest(unittest.TestCase):
    """Task busy time of an op: the union of its tasks' run intervals
    inside the op's span (spark.idle_floor_ms is the rest)."""

    def test_disjoint_intervals_add_up(self):
        self.assertEqual(stats.covered([(0, 10), (20, 25)], 0, 100), 15)

    def test_parallel_tasks_count_once(self):
        self.assertEqual(stats.covered([(0, 10), (0, 10), (5, 15)], 0, 100), 15)

    def test_clipped_to_the_span(self):
        self.assertEqual(stats.covered([(-5, 5), (95, 120)], 0, 100), 10)

    def test_outside_or_empty_contributes_nothing(self):
        self.assertEqual(stats.covered([(200, 300), (7, 7)], 0, 100), 0)
        self.assertEqual(stats.covered([], 0, 100), 0)


class FailureShareTest(unittest.TestCase):
    def test_share(self):
        self.assertEqual(stats.failure_share(200, 0), 0.0)
        self.assertAlmostEqual(stats.failure_share(200, 3), 0.015)
        self.assertEqual(stats.failure_share(4, 4), 1.0)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            stats.failure_share(0, 0)
        with self.assertRaises(ValueError):
            stats.failure_share(5, 6)
        with self.assertRaises(ValueError):
            stats.failure_share(5, -1)


if __name__ == "__main__":
    unittest.main()
