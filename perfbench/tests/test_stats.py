"""Tests for the benchmark's statistics and span arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


def span(i, parent, start, end, **counters):
    s = {"id": i, "parent": parent, "name": f"s{i}", "start_s": start, "end_s": end}
    s.update({c: 0 for c in stats.SPAN_COUNTERS})
    s.update(counters)
    return s


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        # p90 of n samples sits at rank 0.9 * (n - 1); count the ranks above it
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        self.assertEqual(stats.samples_beyond(92, 0.9), 10)
        self.assertEqual(stats.samples_beyond(91, 0.9), 9)
        with self.assertRaises(ValueError):
            stats.tail_percentile(list(range(91)), 0.9)
        self.assertAlmostEqual(stats.tail_percentile(list(range(100)), 0.9), 89.1)

    def test_median_of_even_count_interpolates(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertEqual(stats.percentile([4.0, 1.0, 3.0, 2.0], 0.5), 2.5)

    def test_percentile_bounds(self):
        xs = [5.0, 1.0, 9.0]
        self.assertEqual(stats.percentile(xs, 0.0), 1.0)
        self.assertEqual(stats.percentile(xs, 1.0), 9.0)


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 0.0, 2.0)]), {1: 2.0})

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(1, 0, 0.0, 10.0),
                 span(2, 1, 1.0, 4.0),
                 span(3, 1, 3.0, 6.0),  # overlaps span 2 on [3, 4]
                 span(4, 3, 3.5, 5.0)]  # grandchild: not subtracted from span 1
        selfs = stats.self_times(spans)
        self.assertAlmostEqual(selfs[1], 10.0 - 5.0)
        self.assertAlmostEqual(selfs[3], 3.0 - 1.5)
        self.assertAlmostEqual(selfs[4], 1.5)

    def test_self_times_of_a_tree_sum_to_the_root(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 0.0, 4.0), span(3, 1, 4.0, 9.5),
                 span(4, 3, 5.0, 6.0)]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 10.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 2.0, 4.0), span(2, 1, 1.0, 3.0)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 1.0)

    def test_driver_time_excludes_any_running_job(self):
        spans = [span(1, 0, 0.0, 10.0)]
        jobs = [{"span": 1, "start_s": 1.0, "end_s": 3.0},
                {"span": 1, "start_s": 2.0, "end_s": 4.0},
                {"span": 0, "start_s": 9.0, "end_s": 12.0}]
        self.assertAlmostEqual(stats.driver_times(spans, jobs)[1], 10.0 - 3.0 - 1.0)

    def test_per_span_name_totals(self):
        spans = [span(1, 0, 0.0, 2.0, jobs=3, input_bytes=10),
                 span(2, 0, 5.0, 6.0, jobs=1, input_bytes=5)]
        spans[1]["name"] = "s1"
        t = stats.per_span_name(spans, [])["s1"]
        self.assertEqual((t["count"], t["jobs"], t["input_bytes"]), (2, 4, 15))
        self.assertAlmostEqual(t["wall_s"], 3.0)


if __name__ == "__main__":
    unittest.main()
