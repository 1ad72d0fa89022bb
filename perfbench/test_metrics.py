"""Self-tests of the benchmark's metric math.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics
import run


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)

    def test_needs_ten_samples_beyond(self):
        # the sample counts the workloads rely on: broker p50 and p66 of
        # 30 queries, wire p99 of thousands of produces
        metrics.percentile(range(30), 66)
        metrics.percentile(range(1000), 99)
        metrics.percentile(range(20), 50)
        for n, p in ((29, 66), (999, 99), (19, 50)):
            with self.assertRaises(ValueError):
                metrics.percentile(range(n), p)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3] * 10, 50), 3)


class TailMeanTest(unittest.TestCase):
    def test_mean_of_the_samples_beyond(self):
        # broker: 30 query latencies, the 10 beyond p66 are averaged
        xs = list(range(1, 31))
        self.assertEqual(metrics.tail_mean(xs, 66), sum(range(21, 31)) / 10)
        self.assertEqual(metrics.tail_mean(reversed(xs), 66), 25.5)

    def test_needs_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            metrics.tail_mean(range(29), 66)

    def test_does_not_jump_with_one_gap(self):
        # two clusters meeting at the p66 rank: moving one sample across
        # the gap moves the order statistic by the whole gap, the tail
        # mean by at most a tenth of it (here not at all)
        a = [100] * 20 + [200] * 10
        b = [100] * 19 + [200] * 11
        self.assertEqual(metrics.percentile(b, 66) - metrics.percentile(a, 66), 100)
        self.assertEqual(metrics.tail_mean(b, 66) - metrics.tail_mean(a, 66), 0)


class FailedRatioTest(unittest.TestCase):
    def test_counts(self):
        self.assertEqual(metrics.failed_ratio(200, 0), 0.0)
        self.assertEqual(metrics.failed_ratio(200, 3), 0.015)

    def test_nothing_attempted_is_a_failure(self):
        self.assertEqual(metrics.failed_ratio(0, 0), 1.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [(1, 0, "query", 0, 100),
                 (2, 1, "plan", 10, 30),
                 (3, 1, "exec", 25, 70),   # overlaps plan by 5
                 (4, 3, "task", 30, 50)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 60)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 45 - 20)
        self.assertEqual(st[4], 20)

    def test_child_outside_parent_is_clipped(self):
        st = metrics.self_times([(1, 0, "a", 0, 10), (2, 1, "b", 5, 20)])
        self.assertEqual(st[1], 5)

    def test_median_by_name(self):
        spans = [(1, 0, "q", 0, 10), (2, 0, "q", 0, 30), (3, 0, "q", 0, 20)]
        self.assertEqual(metrics.self_time_by_name(spans), {"q": 20})


class ContractTest(unittest.TestCase):
    """run.py prints exactly the metrics BENCHMARK.json declares."""

    def test_metric_lists_match(self):
        with open(os.path.join(run.build.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([m["name"] for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
