"""Tests of the benchmark's own arithmetic and of BENCHMARK.json.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import metrics
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Percentile(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(list(reversed(xs)), 0.9), 90)

    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(list(range(200)), 0.95), 189)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(199)), 0.95)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 0.9)
        self.assertEqual(stats.percentile(list(range(40)), 0.75), 29)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(39)), 0.75)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class Intervals(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_covered_clips_to_window(self):
        self.assertEqual(stats.covered((10, 20), [(0, 12), (18, 30)]), 4)

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        jobs = [(10, 20), (15, 30), (90, 120)]
        self.assertEqual(stats.driver_gap((0, 100), jobs), 100 - 20 - 10)
        self.assertEqual(stats.driver_gap((0, 100), []), 100)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "request", "t0": 0, "t1": 100},
            {"id": 2, "parent": 1, "layer": "index", "t0": 10, "t1": 40},
            {"id": 3, "parent": 1, "layer": "index", "t0": 30, "t1": 60},
        ]
        out = stats.self_times(spans)
        self.assertEqual(out["request"], 100 - 50)
        self.assertEqual(out["index"], 30 + 30)

    def test_jobs_are_children_of_their_span(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "request", "t0": 0, "t1": 100},
            {"id": 2, "parent": 1, "layer": "index", "t0": 0, "t1": 80},
        ]
        jobs = [{"span": "2", "t0": 10, "t1": 30}, {"span": "2", "t0": 20, "t1": 50},
                {"span": "", "t0": 200, "t1": 210}]
        out = stats.self_times(spans, jobs)
        self.assertEqual(out["request"], 20)
        self.assertEqual(out["index"], 80 - 40)
        self.assertEqual(out["spark"], 40 + 10)


class OpenLoop(unittest.TestCase):
    def test_latency_runs_from_due_time(self):
        op = {"due": 100.0, "start": 150.0, "end": 300.0}
        self.assertEqual(stats.due_latency(op), 200.0)
        self.assertEqual(stats.queue_wait(op), 50.0)

    def test_stalled_sender_charges_the_requests_behind(self):
        # Due every 100 ms; the sender stalls 500 ms before the third.
        ops = [{"due": 0, "start": 0, "end": 50},
               {"due": 100, "start": 100, "end": 150},
               {"due": 200, "start": 700, "end": 750},
               {"due": 300, "start": 750, "end": 800}]
        self.assertEqual([stats.due_latency(o) for o in ops], [50, 50, 550, 500])

    def test_backlog(self):
        steady = [{"due": i * 100, "start": i * 100, "end": i * 100 + 80} for i in range(50)]
        growing = [{"due": i * 100, "start": i * 100, "end": i * 100 + 80 + i * 40}
                   for i in range(50)]
        self.assertFalse(stats.backlog_grows(steady, 500))
        self.assertTrue(stats.backlog_grows(growing, 500))


class BenchmarkFile(unittest.TestCase):
    def test_matches_the_metric_catalogue(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
        self.assertEqual(e2e, {k: v[:3] for k, v in metrics.END_TO_END.items()})
        layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
        self.assertEqual(layer, {k: v[:2] for k, v in metrics.PER_LAYER.items()})
        self.assertEqual(tuple(w["name"] for w in bench["workloads"]), metrics.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
