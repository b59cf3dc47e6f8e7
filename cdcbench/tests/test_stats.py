"""Tests of the benchmark's metric arithmetic: the percentile rule and the
span self-time computation.

    python3 -m unittest discover -s cdcbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile([7.0], 99.9), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(19), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_summary_reports_count_and_percentile(self):
        s = stats.summarize([float(x) for x in range(1, 201)])
        self.assertEqual(s["n"], 200)
        self.assertEqual(s["p50"], 100.0)
        self.assertEqual(s["tail_pct"], 95.0)
        self.assertEqual(s["tail"], 190.0)
        beyond = sum(1 for x in range(1, 201) if x > s["tail"])
        self.assertGreaterEqual(beyond, stats.MIN_BEYOND)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start_us": start, "end_us": end}


class SelfTime(unittest.TestCase):

    def test_leaf_keeps_its_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 0, 100, "a")]), {"a": 100})

    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100, "p"), span(2, 1, 10, 30, "c"), span(3, 1, 50, 60, "c")]
        self.assertEqual(stats.self_times(spans), {"p": 70, "c": 30})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100, "p"), span(2, 1, 10, 50, "c"), span(3, 1, 40, 70, "c")]
        self.assertEqual(stats.self_times(spans)["p"], 40)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 100, 200, "p"), span(2, 1, 50, 150, "c"), span(3, 1, 190, 400, "c")]
        self.assertEqual(stats.self_times(spans)["p"], 40)

    def test_only_direct_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100, "p"), span(2, 1, 0, 50, "c"), span(3, 2, 0, 50, "g")]
        self.assertEqual(stats.self_times(spans), {"p": 50, "c": 0, "g": 50})

    def test_union_length(self):
        self.assertEqual(stats.covered([]), 0)
        self.assertEqual(stats.covered([(0, 10), (5, 15), (20, 25)]), 20)


class BacklogGrowth(unittest.TestCase):

    @staticmethod
    def saw(periods, lag, rise, extra_per_period=0):
        """A backlog that rises by `rise` per sample and is drained every
        `lag` samples down to what the path left behind."""
        rows, left = [], 0
        for _ in range(periods):
            for i in range(lag):
                rows.append(left + rise * i)
            left += extra_per_period
        return rows

    def test_a_sawtooth_that_keeps_up_does_not_grow(self):
        rows = self.saw(4, 50, 0.5)
        self.assertAlmostEqual(stats.backlog_growth(rows, 50), 0.0)

    def test_what_each_period_leaves_behind_is_the_growth(self):
        rows = self.saw(4, 50, 0.5, extra_per_period=7)
        self.assertAlmostEqual(stats.backlog_growth(rows, 50), 7.0)

    def test_needs_more_than_one_period(self):
        with self.assertRaises(ValueError):
            stats.backlog_growth([1.0] * 50, 50)


if __name__ == "__main__":
    unittest.main()
