"""Tests of the benchmark's own arithmetic: python3 perfbench/test_metrics.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.5), (50, 50))
        self.assertEqual(metrics.percentile(xs, 0.9), (90, 10))
        self.assertEqual(metrics.percentile([7], 0.9), (7, 0))

    def test_reported_only_with_ten_beyond(self):
        self.assertEqual(metrics.reportable_percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(metrics.reportable_percentile(list(range(99)), 0.9))

    def test_min_samples_is_the_threshold(self):
        for q, want in ((0.5, 20), (0.75, 40), (0.9, 100)):
            n = metrics.min_samples(q)
            self.assertEqual(n, want)
            self.assertIsNotNone(metrics.reportable_percentile([1.0] * n, q))
            self.assertIsNone(metrics.reportable_percentile([1.0] * (n - 1), q))

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7] * 30
        self.assertEqual(metrics.percentile(xs, 0.9), metrics.percentile(sorted(xs), 0.9))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time(0, 10, []), 10)

    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time(0, 10, [(1, 3), (5, 6)]), 7)

    def test_nested_children_count_once(self):
        self.assertEqual(metrics.self_time(0, 10, [(1, 8), (2, 4), (3, 5)]), 3)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time(0, 10, [(1, 5), (4, 7)]), 4)

    def test_children_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time(10, 20, [(5, 12), (18, 30), (40, 50)]), 6)

    def test_child_covering_everything(self):
        self.assertEqual(metrics.self_time(10, 20, [(0, 30)]), 0)

    def test_empty_children_ignored(self):
        self.assertEqual(metrics.self_time(0, 10, [(3, 3), (6, 4)]), 10)


class RatioTest(unittest.TestCase):
    def test_core_busy(self):
        self.assertEqual(metrics.core_busy(4.0, 2.0, 4), 0.5)

    def test_core_busy_zero_denominators(self):
        self.assertEqual(metrics.core_busy(0.0, 0.0, 4), 0.0)
        self.assertEqual(metrics.core_busy(1.0, 2.0, 0), 0.0)

    def test_data_batch_ratio(self):
        bs = [{"input_rows": 5}, {"input_rows": 0}, {"input_rows": 1}, {"input_rows": 0}]
        self.assertEqual(metrics.data_batch_ratio(bs), 0.5)

    def test_data_batch_ratio_without_batches(self):
        self.assertEqual(metrics.data_batch_ratio([]), 0.0)


class OrderTest(unittest.TestCase):
    keys = [f"q{i}" for i in range(41)]

    def test_is_a_permutation(self):
        for seed in range(5):
            for rnd in range(3):
                self.assertEqual(sorted(metrics.round_order(self.keys, seed, rnd)),
                                 sorted(self.keys))

    def test_repeats_for_a_seed(self):
        self.assertEqual(metrics.round_order(self.keys, 7, 2),
                         metrics.round_order(list(reversed(self.keys)), 7, 2))

    def test_differs_across_seeds_and_rounds(self):
        a = metrics.round_order(self.keys, 1, 1)
        self.assertNotEqual(a, metrics.round_order(self.keys, 2, 1))
        self.assertNotEqual(a, metrics.round_order(self.keys, 1, 2))


class RecordsTest(unittest.TestCase):
    """Metrics from a small hand-made trace: one cold and one warm request."""

    def records(self):
        def req(rnd, start):
            return {"t": "req", "id": f"w/1/{rnd}/q1", "round": rnd, "key": "q1",
                    "start": start, "build_end": start + 4e9, "plan_end": start + 5e9,
                    "end": start + 10e9, "error": None, "staged_bytes": 100}
        tasks = {"tasks": 8, "task_ms": 8000, "task_wait_ms": 10, "stages": 2,
                 "shuffle_read_bytes": 1, "shuffle_write_bytes": 2, "spill_bytes": 0,
                 "input_bytes": 50, "output_records": 3, "task_failures": 0}
        return [
            req(0, 0), req(1, 20e9),
            {"t": "job", "parent": "w/1/1/q1/build", "job": 1, "start": 21e9, "end": 23e9},
            {"t": "job", "parent": "w/1/1/q1/action", "job": 2, "start": 25e9, "end": 29e9},
            {"t": "job", "parent": "w/1/0/q1/action", "job": 0, "start": 5e9, "end": 9e9},
            {"t": "batch", "parent": "w/1/1/q1/build", "batch": 0, "start": 22e9,
             "end": 24e9, "input_rows": 4, "trigger_ms": 2000, "add_batch_ms": 1000,
             "commit_ms": 100, "state_rows": 7},
            dict(tasks, t="tasks", parent="w/1/1/q1/action"),
            dict(tasks, t="tasks", parent="w/1/0/q1/action"),
            {"t": "end", "warm_start": 20e9, "warm_end": 30e9, "peak_rss_kb": 2048,
             "cores": 4},
        ]

    def test_end_to_end(self):
        warm = [{"t": "req", "id": f"w/1/{r}/q1", "round": r, "start": 0, "end": r * 1e8}
                for r in range(2, 101)]
        m = metrics.end_to_end(self.records() + warm, 2.0)
        self.assertEqual(m["setup_s"], (2.0, "s"))
        self.assertEqual(m["cold_pass_s"], (10.0, "s"))
        self.assertAlmostEqual(m["request_p50_s"][0], 5.15)
        self.assertAlmostEqual(m["request_p75_s"][0], 7.6)
        self.assertEqual(m["requests_per_s"], (10.0, "1/s"))
        self.assertEqual(m["peak_rss_mb"], (2.0, "MB"))

    def test_too_few_samples_for_the_tail(self):
        with self.assertRaises(ValueError):
            metrics.end_to_end(self.records(), 1.0)

    def test_per_layer_uses_warm_rounds_only(self):
        m = metrics.per_layer(self.records())
        self.assertEqual(m["ops.build_s"], (4.0, "s"))
        self.assertEqual(m["ops.build_self_s"], (1.0, "s"))
        self.assertEqual(m["ops.build_share"], (0.4, "ratio"))
        self.assertEqual(m["ops.build_jobs"], (1, "count"))
        self.assertEqual(m["exec.action_s"], (5.0, "s"))
        self.assertEqual(m["exec.action_self_s"], (1.0, "s"))
        self.assertEqual(m["exec.jobs"], (1, "count"))
        self.assertEqual(m["exec.core_busy"], (8.0 / 20.0, "ratio"))
        self.assertEqual(m["streaming.batches"], (1, "count"))
        self.assertEqual(m["streaming.data_batch_ratio"], (1.0, "ratio"))
        self.assertEqual(m["sources.staged_bytes"], (100, "B"))


if __name__ == "__main__":
    unittest.main()
