"""Unit tests for the benchmark's folds.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import folds  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        value, pct, n = folds.tail(list(range(1, 41)))
        self.assertEqual((value, pct, n), (30, 75.0, 40))

    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(folds.tail(list(range(10))))
        value, pct, n = folds.tail([5.0] * 10 + [1.0])
        self.assertEqual((value, n), (1.0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_order_does_not_matter(self):
        xs = [7, 3, 9, 1, 12, 4, 8, 2, 11, 6, 10, 5]
        self.assertEqual(folds.tail(xs), folds.tail(sorted(xs)))


class FailedShareTest(unittest.TestCase):
    def test_share(self):
        self.assertEqual(folds.failed_share(0, 40), 0.0)
        self.assertEqual(folds.failed_share(3, 40), 0.075)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            folds.failed_share(0, 0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [
            {"id": 1, "parent": None, "start_ms": 0.0, "end_ms": 100.0},
            {"id": 2, "parent": 1, "start_ms": 10.0, "end_ms": 40.0},
            {"id": 3, "parent": 1, "start_ms": 30.0, "end_ms": 60.0},
            {"id": 4, "parent": 1, "start_ms": 80.0, "end_ms": 90.0},
            {"id": 5, "parent": 3, "start_ms": 35.0, "end_ms": 45.0},
        ]
        self_ms = folds.self_times(spans)
        self.assertEqual(self_ms[1], 100.0 - 60.0)
        self.assertEqual(self_ms[3], 30.0 - 10.0)
        self.assertEqual(self_ms[2], 30.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [
            {"id": "a", "parent": None, "start_ms": 0.0, "end_ms": 10.0},
            {"id": "b", "parent": "a", "start_ms": 8.0, "end_ms": 20.0},
            {"id": "c", "parent": "a", "start_ms": -5.0, "end_ms": 1.0},
        ]
        self.assertEqual(folds.self_times(spans)["a"], 10.0 - 3.0)


if __name__ == "__main__":
    unittest.main()
