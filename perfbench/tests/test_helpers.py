"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import gen, metrics, stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_and_counts_samples(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), (2.5, 4))
        self.assertEqual(stats.percentile(range(1, 11), 90), (9.1, 10))
        self.assertEqual(stats.percentile([7], 95), (7, 1))

    def test_empty_sample_is_nan(self):
        v, n = stats.percentile([], 50)
        self.assertNotEqual(v, v)
        self.assertEqual(n, 0)

    def test_interquartile_mean_trims_a_quarter_each_side(self):
        self.assertEqual(stats.interquartile_mean([1, 2, 3, 4, 100, -50, 5, 6]), 3.5)
        self.assertEqual(stats.interquartile_mean([3, 1, 2]), 2)
        v = stats.interquartile_mean([])
        self.assertNotEqual(v, v)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_intervals_subtract_covered_part(self):
        self.assertEqual(stats.self_intervals((0, 100), []), [(0, 100)])
        self.assertEqual(stats.self_intervals((0, 100), [(10, 20), (15, 30), (90, 120)]),
                         [(0, 10), (30, 90)])
        self.assertEqual(stats.self_intervals((0, 100), [(-5, 200)]), [])
        self.assertEqual(stats.self_intervals((0, 100), [(50, 60), (10, 20)]),
                         [(0, 10), (20, 50), (60, 100)])

    def test_layer_self_time_counts_overlapping_jobs_once(self):
        spans = [{"id": 1, "layer": "runner", "parent": 0, "op": 1,
                  "start_us": 0, "end_us": 100_000}]
        jobs = [{"job": 0, "start_ms": 10, "end_ms": 50},
                {"job": 1, "start_ms": 30, "end_ms": 70}]
        st = metrics._self_times(spans, jobs)
        self.assertEqual(st["spark"], 60.0)
        self.assertEqual(st["runner"], 40.0)

    def test_innermost_parent(self):
        self.assertEqual(stats.assign_parents([(5, 6), (50, 51), (200, 201)],
                                              [(0, 100), (0, 10)]), [1, 0, None])


class SeedDeterminismTest(unittest.TestCase):
    def test_live_schedule(self):
        a = gen.live_schedule(7, 5000)
        self.assertEqual(a, gen.live_schedule(7, 5000))
        self.assertNotEqual(a, gen.live_schedule(8, 5000))
        self.assertEqual([m[0] for m in a], sorted(m[0] for m in a))

    def test_live_schedule_shape(self):
        msgs = gen.live_schedule(3, 20_000)
        regs = [m for m in msgs if m[2] != "KILL"]
        # steady state from the start: ~1250 queries at t=0, then 100/s
        at0 = sum(1 for m in regs if m[0] == 0)
        self.assertTrue(1100 < at0 < 1400, at0)
        later = len(regs) - at0
        self.assertTrue(1700 < later < 2300, later)
        kinds = [m[2] for m in regs]
        self.assertTrue(0.55 < kinds.count("eq") / len(kinds) < 0.65)
        for m in msgs:
            body = json.loads(m[3])
            self.assertEqual(body["id"], m[1])
        registered = set()
        for m in msgs:  # a KILL always follows its query's registration
            if m[2] == "KILL":
                self.assertIn(m[1], registered)
            else:
                registered.add(m[1])

    def test_mixed_queries(self):
        a = gen.mixed_queries(5, 60, 10)
        self.assertEqual(a, gen.mixed_queries(5, 60, 10))
        self.assertNotEqual(a, gen.mixed_queries(6, 60, 10))
        self.assertEqual([r[1] for r in a[:12]], [0, 1, 2, 3, 4, 5] * 2)
        q = json.loads(a[0][4])["query"]
        self.assertEqual(q["id"], a[0][0])
        self.assertEqual(q["durationMs"], a[0][3] * 1000)

    def test_tables(self):
        self.assertTrue(gen.events(1, 500).equals(gen.events(1, 500)))
        self.assertFalse(gen.events(1, 500).equals(gen.events(2, 500)))
        t = gen.star_tables(42, 0.001)
        self.assertTrue(t["lineitem"].equals(gen.star_tables(42, 0.001)["lineitem"]))
        self.assertEqual(t["orders"].num_rows, 1500)


class LiveAnalysisTest(unittest.TestCase):
    RUN = {"warm_ms": 0, "end_ms": 10_000, "sent": [], "clips": []}

    def clip(self, qid, at, signal=None, window=-1, receive=0, forced=False):
        return {"id": qid, "at_ms": at, "signal": signal, "window": window,
                "receive_ms": receive, "forced": forced}

    def test_latency_from_due_instant(self):
        r = dict(self.RUN, clips=[
            self.clip("w", 1030, window=1), self.clip("w", 2010, window=2),
            self.clip("c", 5250, "COMPLETE", receive=0),
            self.clip("raw", 400, "COMPLETE"),           # early fill: no due instant
            self.clip("k", 900, "KILL"),
            self.clip("f", 12_000, "COMPLETE", forced=True)])
        lat = metrics.live_result_latencies(r, {"c": 5000, "raw": 5000, "f": 5000, "w": 9000})
        self.assertEqual(sorted(lat), [10, 30, 250])

    def test_check_finds_missing_and_duplicate_terminals_and_gaps(self):
        sent = [{"id": q, "kind": "eq", "fail": False} for q in ("a", "b", "c", "d")]
        r = dict(self.RUN, sent=sent, clips=[
            self.clip("a", 1, "COMPLETE"),
            self.clip("b", 1, "COMPLETE"), self.clip("b", 2, "KILL"),
            self.clip("d", 1, window=1), self.clip("d", 2, window=3),
            self.clip("d", 3, "COMPLETE")])
        n, problems = metrics.live_check(r, {})
        self.assertEqual(n, 4)
        self.assertEqual(sorted(problems), ["b", "c", "d"])


if __name__ == "__main__":
    unittest.main()
