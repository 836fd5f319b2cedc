"""Tests for the runner's statistics: python3 -m unittest perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # p90 of 99 samples leaves 9 beyond it: not reportable
        self.assertIsNone(stats.tail_percentile(list(range(99)), 90))
        # 100 samples: rank 90, ten beyond
        self.assertEqual(stats.tail_percentile(list(range(1, 101)), 90), 90)

    def test_nearest_rank_on_unsorted_input(self):
        xs = list(range(200, 0, -1))
        self.assertEqual(stats.tail_percentile(xs, 90), 180)
        self.assertEqual(stats.tail_percentile(xs, 50), 100)

    def test_empty(self):
        self.assertIsNone(stats.tail_percentile([], 50))


class HighestTailTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.highest_tail(list(range(1, 1001))), (99, 990))
        self.assertEqual(stats.highest_tail(list(range(1, 101))), (90, 90))
        self.assertEqual(stats.highest_tail(list(range(1, 58))), (80, 46))

    def test_too_few_samples(self):
        self.assertIsNone(stats.highest_tail(list(range(7))))


class TraceOverheadTest(unittest.TestCase):
    def test_cancels_linear_warm_up(self):
        # untraced passes speed up 1 s per pass; tracing adds 0.5 s
        self.assertEqual(stats.trace_overhead(
            [(14, False), (13.5, True), (12, False), (11.5, True), (10, False)]), 0.5)

    def test_one_sided_neighbour(self):
        self.assertEqual(stats.trace_overhead([(14, False), (13.5, True)]), -0.5)

    def test_needs_an_untraced_neighbour(self):
        with self.assertRaises(ValueError):
            stats.trace_overhead([(13, True)])


class FailedFracTest(unittest.TestCase):
    def test_counts_errors_and_failed_checks(self):
        samples = [{"op": "a", "error": None}, {"op": "a", "error": None},
                   {"op": "b", "error": "boom"}, {"op": "c", "error": None}]
        self.assertEqual(stats.failed_frac(samples, {"a"}), (3, 0.75))
        self.assertEqual(stats.failed_frac(samples, set()), (1, 0.25))

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_frac([], set())


def span(i, parent, name, a, b):
    return {"id": i, "parent": parent, "name": name, "start_ns": a, "end_ns": b}


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "parse", 10, 20),
                 span(3, 1, "exec", 30, 90), span(4, 3, "job", 40, 80)]
        st = stats.self_times(spans)
        self.assertEqual(st["op"], (30, 1))
        self.assertEqual(st["exec"], (20, 1))
        self.assertEqual(st["job"], (40, 1))

    def test_overlapping_children_counted_once_and_clipped(self):
        spans = [span(1, 0, "exec", 100, 200), span(2, 1, "job", 90, 150),
                 span(3, 1, "job", 140, 170), span(4, 1, "job", 300, 400)]
        st = stats.self_times(spans)
        self.assertEqual(st["exec"], (30, 1))
        self.assertEqual(st["job"], (60 + 30 + 100, 3))

    def test_counts_accumulate_by_name(self):
        spans = [span(1, 0, "op", 0, 10), span(2, 0, "op", 20, 25)]
        self.assertEqual(stats.self_times(spans)["op"], (15, 2))


if __name__ == "__main__":
    unittest.main()
