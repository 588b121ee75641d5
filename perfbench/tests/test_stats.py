"""Tests for the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7.25]), 7.25)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7, 2, 8, 4, 6, 10, 11, 12]
        self.assertEqual(stats.tail(xs), (2, 100.0 * 2 / 12))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11)))[0], 0)

    def test_nearest_rank(self):
        xs = list(range(1, 21))
        self.assertEqual(stats.nearest_rank(xs, 90), 18)
        self.assertEqual(stats.nearest_rank(xs, 100), 20)
        self.assertEqual(stats.nearest_rank([4.0], 50), 4.0)


class FailRatioTest(unittest.TestCase):
    def test_wrong_result_counts_as_failure(self):
        # ok, threw (None: no result), wrong result (False), ok
        self.assertEqual(stats.fail_ratio([True, None, False, True]), 0.5)

    def test_all_ok(self):
        self.assertEqual(stats.fail_ratio([True] * 7), 0.0)

    def test_nothing_attempted(self):
        with self.assertRaises(ValueError):
            stats.fail_ratio([])


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_nested(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40),
                 self.span(2, 1, 20, 30)]
        st = stats.self_times(spans)
        self.assertEqual(st, {0: 70, 1: 20, 2: 10})

    def test_overlapping_children_counted_once(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 50),
                 self.span(2, 0, 30, 70)]
        self.assertEqual(stats.self_times(spans)[0], 40)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, -1, 10, 20), self.span(1, 0, 15, 40)]
        self.assertEqual(stats.self_times(spans)[0], 5)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
