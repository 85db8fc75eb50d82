"""Tests for the benchmark's own statistics: `python3 -m unittest discover
-s perfbench/tests` from the repository root."""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class OrderStatistics(unittest.TestCase):
    def test_median_odd_even_empty(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(stats.median([]), 0.0)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles([2.0]), (2.0, 2.0, 2.0))

    def test_percentile_interpolates(self):
        xs = list(range(101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([1, 2], 50), 1.5)
        self.assertEqual(stats.percentile([7], 99), 7)


class TailPercentile(unittest.TestCase):
    def test_hundred_samples_reach_p90(self):
        self.assertEqual(stats.tail_percentile(100), 90.0)

    def test_ladder_steps(self):
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertIsNone(stats.tail_percentile(0))


def span(i, parent, s, e):
    return {"id": i, "parent": parent, "name": "s%d" % i, "start_ms": s, "end_ms": e}


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 50, 60),
                 span(3, 1, 20, 30)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 30 - 10)
        self.assertEqual(st[1], 30 - 10)
        self.assertEqual(st[2], 10)
        self.assertEqual(st[3], 10)

    def test_overlapping_children_count_once_and_clip(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 40, 120)]
        self.assertEqual(stats.self_times(spans)[0], 10)

    def test_leaf_is_its_duration(self):
        self.assertEqual(stats.self_times([span(5, -1, 3, 8)])[5], 5)


class Attribution(unittest.TestCase):
    def test_stage_goes_to_innermost_span(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 1, 20, 30)]
        stages = [{"stage": "a", "submit_ms": 5}, {"stage": "b", "submit_ms": 15},
                  {"stage": "c", "submit_ms": 25}, {"stage": "d", "submit_ms": 40},
                  {"stage": "e", "submit_ms": 150}]
        got = {k: [e["stage"] for e in v] for k, v in stats.attribute(stages, spans).items()}
        self.assertEqual(got, {0: ["a"], 1: ["b", "d"], 2: ["c"]})

    def test_jobs_by_start_time(self):
        spans = [span(0, -1, 0, 10), span(1, -1, 10.5, 20)]
        jobs = [{"job": 1, "start_ms": 2}, {"job": 2, "start_ms": 12}]
        got = stats.attribute(jobs, spans, key="start_ms")
        self.assertEqual([j["job"] for j in got[0]], [1])
        self.assertEqual([j["job"] for j in got[1]], [2])

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(stats.union_length([(0, 5), (3, 8)], lo=4, hi=6), 2)
        self.assertEqual(stats.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
