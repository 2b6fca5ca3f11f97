"""Unit tests of the harness statistics.

    python3 -m unittest discover -s graftbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import metrics, stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([5, 1, 3]), 3)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_percentile_interpolates(self):
        xs = list(range(101))  # 0..100
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertAlmostEqual(stats.percentile([0, 10], 25), 2.5)

    def test_percentile_of_nothing_fails(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_quartiles_match_statistics_module(self):
        xs = [3.1, 9.4, 2.2, 7.7, 5.0, 6.3, 1.8, 8.9, 4.4, 0.5]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        xs = [10, 10, 10, 10, 10, 10, 10, 10, 10, 10]
        self.assertEqual(stats.spread(xs), 0.0)
        q1, q2, q3 = statistics.quantiles([8, 9, 10, 11, 12], n=4)
        self.assertAlmostEqual(stats.spread([8, 9, 10, 11, 12]), (q3 - q1) / q2)


class ReportableTailTest(unittest.TestCase):
    def test_p90_at_a_hundred_samples(self):
        self.assertEqual(stats.max_reportable_percentile(100), 90)
        self.assertLess(stats.max_reportable_percentile(90), 90)

    def test_ten_samples_lie_beyond(self):
        for n in (11, 20, 57, 100, 250, 1000):
            p = stats.max_reportable_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, n)
            if p < 99:  # one percentile higher leaves fewer than ten
                beyond = sum(1 for x in xs if x > stats.percentile(xs, p + 1))
                self.assertLess(beyond, 10, n)

    def test_too_few_samples(self):
        self.assertEqual(stats.max_reportable_percentile(10), 0)
        self.assertEqual(stats.max_reportable_percentile(0), 0)

    def test_tail_is_capped_at_p90_and_counts_samples(self):
        def raw(n):
            return {"samples": [{"ok": True, "start_ns": 0, "end_ns": (i + 1) * 10 ** 6}
                                for i in range(n)]}
        self.assertIsNone(metrics.tail(raw(10)))
        self.assertEqual(metrics.tail(raw(40))["pct"], 76)
        t = metrics.tail(raw(1000))
        self.assertEqual((t["pct"], t["samples"]), (90, 1000))
        self.assertAlmostEqual(t["ms"], 900.1)


class SpanTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "op": 1, "name": f"s{i}",
                "start_ns": start, "end_ns": end}

    def test_self_time_subtracts_children(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 10, 30),
                 self.span(3, 1, 50, 90), self.span(4, 3, 60, 70)]
        self.assertEqual(stats.self_times(spans), {1: 40, 2: 20, 3: 30, 4: 10})

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 10, 60),
                 self.span(3, 1, 40, 80)]
        self.assertEqual(stats.self_times(spans)[1], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 90, 150)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)


if __name__ == "__main__":
    unittest.main()
