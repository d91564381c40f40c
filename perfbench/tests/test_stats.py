"""Unit tests of the benchmark's pure helpers:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))          # 1..100
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile(v, 99), 99)
        self.assertEqual(stats.percentile(v, 100), 100)

    def test_small_samples_and_order(self):
        self.assertEqual(stats.percentile([7.0], 99), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertEqual(stats.percentile([3, 1, 2, 4], 50), 2)
        self.assertEqual(stats.percentile([10, 20], 90), 20)

    def test_rejects_bad_input(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1], 0)

    def test_median(self):
        self.assertEqual(stats.median([5, 1, 3]), 3)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, name, s, e):
        return {"id": i, "parent": parent, "name": name, "start": s, "end": e}

    def test_children_subtracted(self):
        spans = [self.span(0, -1, "query", 0, 100),
                 self.span(1, 0, "build", 0, 30),
                 self.span(2, 0, "plan", 30, 40),
                 self.span(3, 0, "execute", 40, 95)]
        st = stats.self_times(spans)
        self.assertEqual(st, {0: 5, 1: 30, 2: 10, 3: 55})

    def test_overlapping_and_overhanging_children(self):
        spans = [self.span(0, -1, "batch", 10, 50),
                 self.span(1, 0, "sink", 20, 40),
                 self.span(2, 0, "sink", 30, 45),     # overlaps the first
                 self.span(3, 0, "late", 48, 70)]     # runs past its parent
        st = stats.self_times(spans)
        self.assertEqual(st[0], 40 - 25 - 2)
        self.assertEqual(st[3], 22)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(0, -1, "a", 0, 10), self.span(1, 0, "b", 0, 10),
                 self.span(2, 1, "c", 0, 4)]
        by = stats.self_time_by_name(spans)
        self.assertEqual(by, {"a": 0, "b": 6, "c": 4})


class TracingOverheadTest(unittest.TestCase):
    def test_drift_between_neighbours_cancels(self):
        # untraced passes speed up 10 -> 8; the traced one in between costs 10%
        self.assertAlmostEqual(stats.tracing_overhead([10.0, 9.9, 8.0], [False, True, False]), 0.1)

    def test_needs_untraced_neighbours(self):
        self.assertEqual(stats.tracing_overhead([10.0, 11.0], [False, True]), 0.0)
        self.assertEqual(stats.tracing_overhead([1.0, 1.0, 1.0, 1.0], [True] * 4), 0.0)


class OpenLoopTest(unittest.TestCase):
    def test_latency_runs_from_due_time_to_commit(self):
        # 10 events/s from t=0: event i is due at 100*i ms
        adds = [(0, 1, 0.0), (1, 3, 205.0), (3, 4, 300.0)]
        batches = [(0, 0), (1, 0), (2, 2)]          # batch 1 is a no-data batch
        commits = {0: 50.0, 1: 60.0, 2: 400.0}
        lat, lag, backlog = stats.open_loop_latencies(0.0, 10.0, adds, batches, commits)
        self.assertEqual(lat, [50.0, 300.0, 200.0, 100.0])
        # event 1 was due at 100 but added at 205: the generator ran late
        self.assertEqual(lag, [0.0, 105.0, 5.0, 0.0])
        # when batch 2 commits at t=400 all 4 events are due and only
        # event 0 was committed before it
        self.assertEqual(backlog, 3)

    def test_a_stall_charges_every_event_due_during_it(self):
        adds = [(i, i + 1, 100.0 * i) for i in range(5)]
        batches = [(0, 0), (1, 4)]
        commits = {0: 10.0, 1: 1000.0}              # one long stall
        lat, _, backlog = stats.open_loop_latencies(0.0, 10.0, adds, batches, commits)
        self.assertEqual(lat, [10.0, 900.0, 800.0, 700.0, 600.0])
        self.assertEqual(backlog, 4)                 # 5 due at t=1000, 1 done

    def test_unprocessed_add_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.open_loop_latencies(0.0, 1.0, [(0, 1, 0.0), (1, 2, 1.0)], [(0, 0)], {0: 5.0})


if __name__ == "__main__":
    unittest.main()
