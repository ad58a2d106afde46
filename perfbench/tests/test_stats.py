"""Tests for the benchmark's statistics: python3 -m unittest discover -s perfbench/tests"""

import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_p90_needs_one_hundred_samples(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail_percentile(xs), (90.0, 90, 100))
        # one short of 100: p90 would have only 9 samples beyond it
        p, value, n = stats.tail_percentile(list(range(1, 100)))
        self.assertEqual((p, value, n), (75.0, 75, 99))

    def test_small_runs_report_the_median(self):
        self.assertEqual(stats.tail_percentile([3.0, 1.0, 2.0]), (50.0, 2.0, 3))
        self.assertEqual(stats.tail_percentile(list(range(1, 20)))[0], 50.0)

    def test_p99_at_one_thousand(self):
        self.assertEqual(stats.tail_percentile(list(range(1, 1001)))[:2], (99.0, 990))

    def test_nearest_rank_is_a_sample(self):
        xs = [0.5, 0.1, 0.9, 0.3]
        self.assertEqual(stats.nearest_rank(xs, 50), 0.3)
        self.assertEqual(stats.nearest_rank(xs, 100), 0.9)
        self.assertEqual(stats.nearest_rank(xs, 1), 0.1)


class Spread(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        xs = [10.0] * 5 + [11.0] * 5
        q1, med, q3 = 10.0, 10.5, 11.0
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)

    def test_constant_series_has_no_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class NoJobTime(unittest.TestCase):
    def test_union_of_overlapping_jobs(self):
        self.assertEqual(stats.union_length([(1, 3), (2, 4), (6, 7)]), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_jobs_clipped_to_the_call(self):
        # call [0, 10]; jobs cover [1, 4], [6, 7] and [9, 10] of it
        jobs = [(1, 3), (2, 4), (6, 7), (9, 12), (-5, -1)]
        self.assertEqual(stats.no_job_s(0, 10, jobs), 5)

    def test_no_jobs_means_all_no_job_time(self):
        self.assertEqual(stats.no_job_s(2.0, 3.5, []), 1.5)

    def test_nested_jobs_count_once(self):
        self.assertEqual(stats.no_job_s(0, 10, [(0, 10), (2, 3)]), 0)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, name, start, end):
        return {"id": i, "parent": parent, "name": name, "start": start, "end": end}

    def test_self_time_subtracts_children_once(self):
        spans = [
            self.span(1, 0, "root", 0, 10),
            self.span(2, 1, "a", 1, 4),
            self.span(3, 1, "b", 3, 6),  # overlaps a: children cover [1, 6]
            self.span(4, 2, "c", 2, 3),
        ]
        own = stats.self_times(spans)
        self.assertEqual(own["root"], 5)
        self.assertEqual(own["a"], 2)
        self.assertEqual(own["b"], 3)
        self.assertEqual(own["c"], 1)

    def test_self_time_sums_per_name(self):
        spans = [self.span(1, 0, "x", 0, 2), self.span(2, 0, "x", 5, 6)]
        self.assertEqual(stats.self_times(spans), {"x": 3})

    def test_layer_of_span(self):
        self.assertEqual(stats.layer_of("operators.Pipeline.attrition"), "operators.Pipeline")
        self.assertEqual(stats.layer_of("sources.ShardedParquetSink.write[jdbc]"), "sources.ShardedParquetSink")
        self.assertEqual(stats.layer_of("dump"), "harness")


if __name__ == "__main__":
    unittest.main()
