"""Unit checks for the benchmark's own reductions.

Run: python3 perfbench/test_stats.py"""

import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)
        self.assertIsNone(stats.percentile([], 50))

    def test_median(self):
        self.assertEqual(stats.median([5, 1, 3]), 3)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertIsNone(stats.median([]))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([5]), 5.0)
        self.assertIsNone(stats.geomean([]))

    def test_tail_has_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)


class Backlog(unittest.TestCase):
    def test_rows_due_minus_consumed(self):
        # 1000 rows/s from t=0: at t=2000 ms 2000 rows are due
        self.assertEqual(stats.backlog_rows([(2000, 1500), (3000, 3000)], 0, 1000), [500, 0])

    def test_never_negative(self):
        self.assertEqual(stats.backlog_rows([(1000, 5000)], 0, 1000), [0])

    def test_growing(self):
        self.assertTrue(stats.backlog_growing([100, 100, 100, 400, 800, 1600], slack=500))
        self.assertFalse(stats.backlog_growing([100, 900, 120, 880, 110, 130], slack=500))
        self.assertFalse(stats.backlog_growing([5, 5], slack=0))


class Catchup(unittest.TestCase):
    def test_first_batch_back_under_threshold(self):
        batches = [(12_000, [4000, 3900]), (10_500, [5000]), (13_000, [900, 1100, 1000])]
        self.assertEqual(stats.catchup_ms(batches, threshold_ms=1500, restart_ms=10_000), 3000)

    def test_median_not_max_decides(self):
        self.assertEqual(stats.catchup_ms([(11_000, [100, 200, 9000])], 1000, 10_000), 1000)

    def test_never_caught_up(self):
        self.assertIsNone(stats.catchup_ms([(11_000, [5000])], 1000, 10_000))


class Covered(unittest.TestCase):
    def test_union_clipped_to_the_window(self):
        # overlapping jobs count once; the part outside [lo, hi] not at all
        self.assertEqual(stats.covered([(10, 40), (30, 50), (90, 120)], 0, 100), 50)
        self.assertEqual(stats.covered([], 0, 100), 0)
        self.assertEqual(stats.covered([(-20, -10)], 0, 100), 0)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, layer, s, e):
        return {"id": i, "parent": parent, "layer": layer, "start_ms": s, "end_ms": e}

    def test_children_subtracted_once(self):
        spans = [self.span(1, 0, "run", 0, 100),
                 self.span(2, 1, "job", 10, 40),
                 self.span(3, 1, "job", 30, 50),   # overlaps the first job
                 self.span(4, 1, "job", 90, 120)]  # runs past its parent
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["run"], 100 - 40 - 10)
        self.assertAlmostEqual(st["job"], 30 + 20 + 30)

    def test_grandchildren_belong_to_their_parent(self):
        spans = [self.span(1, 0, "a", 0, 10), self.span(2, 1, "b", 0, 8),
                 self.span(3, 2, "c", 0, 5)]
        self.assertEqual(stats.self_times(spans), {"a": 2, "b": 3, "c": 5})


if __name__ == "__main__":
    unittest.main()
