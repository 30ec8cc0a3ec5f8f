"""Tests for the benchmark's summary statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(sid, parent, name, start, end):
    return {"trace": 1, "span": sid, "parent": parent, "name": name,
            "start_us": start, "end_us": end}


class PercentileTest(unittest.TestCase):
    def test_interpolated_with_sample_count(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        v, n = stats.percentile(xs, 50)
        self.assertAlmostEqual(v, 5.5)
        self.assertEqual(n, 10)
        v, n = stats.percentile(xs, 90)
        self.assertAlmostEqual(v, 9.1)
        self.assertEqual(stats.percentile(xs, 100), (10.0, 10))
        self.assertEqual(stats.percentile(xs, 0), (1.0, 10))

    def test_odd_count_median_is_middle_sample(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), (2, 3))

    def test_single_sample(self):
        self.assertEqual(stats.percentile([2.5], 90), (2.5, 1))

    def test_empty(self):
        self.assertEqual(stats.percentile([], 50), (None, 0))

    def test_input_order_does_not_matter(self):
        xs = [0.3, 0.1, 0.9, 0.5]
        self.assertEqual(stats.percentile(xs, 50), stats.percentile(sorted(xs), 50))


class FailureCountTest(unittest.TestCase):
    def test_only_true_passes(self):
        outcomes = [True, False, "RuntimeException: boom", True, "rows 3 != 4"]
        self.assertEqual(stats.count_failures(outcomes), (5, 3))

    def test_all_pass_and_none(self):
        self.assertEqual(stats.count_failures([True] * 4), (4, 0))
        self.assertEqual(stats.count_failures([]), (0, 0))

    def test_truthy_non_true_still_fails(self):
        # a non-empty reason string is truthy but is still a failure
        self.assertEqual(stats.count_failures(["hash mismatch", 1]), (2, 2))


class SelfTimeTest(unittest.TestCase):
    def test_child_time_is_subtracted(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "exec.job", 10, 40)]
        self.assertEqual(stats.self_times(spans), {"op": 70, "exec.job": 30})

    def test_overlapping_children_counted_once(self):
        spans = [span(1, 0, "op", 0, 100),
                 span(2, 1, "exec.job", 10, 50), span(3, 1, "exec.job", 30, 70)]
        self.assertEqual(stats.self_times(spans)["op"], 40)
        self.assertEqual(stats.self_times(spans)["exec.job"], 80)

    def test_children_clipped_to_parent(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "plans.analysis", -20, 30),
                 span(3, 1, "exec.job", 90, 150)]
        self.assertEqual(stats.self_times(spans)["op"], 60)

    def test_only_direct_children_count(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "exec.job", 0, 50),
                 span(3, 2, "exec.stage", 0, 50)]
        st = stats.self_times(spans)
        self.assertEqual(st, {"op": 50, "exec.job": 0, "exec.stage": 50})

    def test_same_name_sums_across_spans(self):
        spans = [span(1, 0, "op", 0, 10), span(2, 0, "op", 20, 35)]
        self.assertEqual(stats.self_times(spans), {"op": 25})


class SpreadTest(unittest.TestCase):
    def test_quartile_spread_share_of_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, med, q3 = 1.5, 3.0, 4.5  # statistics.quantiles, exclusive method
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)

    def test_constant_values_have_no_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


if __name__ == "__main__":
    unittest.main()
