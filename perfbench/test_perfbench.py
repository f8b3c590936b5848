"""Tests of the benchmark's own statistics and instruments.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import statistics
import unittest
from pathlib import Path

import compare
import run
import stats
import summarize

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


class StatsTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        p, v, n = stats.tail([float(x) for x in range(20, 0, -1)])
        self.assertEqual((p, v, n), (50.0, 10.0, 20))
        self.assertEqual(stats.tail(list(range(11)))[1], 0)
        p, v, n = stats.tail(list(range(100)))
        self.assertEqual((p, v), (90.0, 89))
        self.assertEqual(sum(x > v for x in range(100)), 10)

    def test_tail_needs_eleven_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([2.0, 2.0, 2.0]), 2.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_quartiles_follow_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q1, q2, q3))
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)

    def test_union_length_merges_and_clips(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(stats.union_length([(0, 1)], 2, 5), 0)

    def test_self_time_is_span_minus_child_coverage(self):
        spans = [
            {"id": 1, "parent": -1, "start_ms": 0, "end_ms": 10},
            {"id": 2, "parent": 1, "start_ms": 1, "end_ms": 3},
            {"id": 3, "parent": 1, "start_ms": 2, "end_ms": 5},   # overlaps 2
            {"id": 4, "parent": 1, "start_ms": 8, "end_ms": 12},  # ends past 1
            {"id": 5, "parent": 3, "start_ms": 2, "end_ms": 5},   # covers 3
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 10 - (4 + 2))
        self.assertEqual(st[2], 2)
        self.assertEqual(st[3], 0)
        self.assertEqual(st[5], 3)


class TraceTest(unittest.TestCase):
    def test_events_nest_under_the_innermost_open_span(self):
        rec = {
            "spans": [{"id": 1, "parent": -1, "name": "query", "start_ms": 0, "end_ms": 110},
                      {"id": 2, "parent": 1, "name": "query.build", "start_ms": 0, "end_ms": 100},
                      {"id": 3, "parent": 1, "name": "query.exec", "start_ms": 100, "end_ms": 110}],
            "trace": {
                "triggers": [{"start_ms": 10, "duration_ms": {"triggerExecution": 40}}],
                "sql_executions": [{"sql": 7, "start_ms": 12}, {"sql": 7, "end_ms": 45},
                                   {"sql": 8, "start_ms": 20}, {"sql": 8, "end_ms": 30},
                                   {"sql": 9, "start_ms": 101}, {"sql": 9, "end_ms": 109}],
                "jobs": [{"job": 0, "start_ms": 21, "stages": [5], "sql": 8},
                         {"job": 1, "start_ms": 102, "stages": [6], "sql": -1}],
                "job_ends": [{"job": 0, "end_ms": 29}, {"job": 1, "end_ms": 108}],
                "stages": [{"stage": 5, "start_ms": 22, "end_ms": 28},
                           {"stage": 6, "start_ms": 103, "end_ms": 107}]}}
        spans = run.trace_spans(rec)
        by = {(s["name"], s.get("sql", s.get("job", s.get("stage")))): s for s in spans}
        parent = lambda key: next(s["name"] for s in spans if s["id"] == by[key]["parent"])
        self.assertEqual(parent(("streaming.trigger", None)), "query.build")
        self.assertEqual(parent(("sql_execution", 7)), "streaming.trigger")
        self.assertEqual(by[("sql_execution", 8)]["parent"], by[("sql_execution", 7)]["id"])
        self.assertEqual(by[("job", 0)]["parent"], by[("sql_execution", 8)]["id"])
        self.assertEqual(parent(("sql_execution", 9)), "query.exec")
        self.assertEqual(by[("job", 1)]["parent"], by[("sql_execution", 9)]["id"])
        self.assertEqual(by[("stage", 6)]["parent"], by[("job", 1)]["id"])


class CompareTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_clear_gain_is_better(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1), (10, "better"))

    def test_loss_beyond_bound_is_worse(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)[1], "worse")

    def test_noise_is_same(self):
        change = list(reversed(self.parent))
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)[1], "same")

    def test_fewer_than_ten_pairs_is_unresolved(self):
        parent = self.parent[:3]
        change = [x - 1.0 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1), (3, "unresolved"))

    def test_wide_spread_is_unresolved(self):
        change = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)[1], "unresolved")


class InstrumentTest(unittest.TestCase):
    """summarize.py refuses a baseline whose instruments or runs are bad."""

    @staticmethod
    def record(workload, trace, metrics, correct=True, failed=0):
        return {"workload": workload, "seed": 1, "trace": trace,
                "result": {"correct": correct, "failed": failed,
                           "metrics": {k: {"value": v} for k, v in metrics.items()}}}

    def test_counter_zero_on_every_workload_is_silent(self):
        traced = [{"a": {"value": 0}, "b": {"value": 3}},
                  {"a": {"value": 0.0}, "b": {"value": 0}}]
        self.assertEqual(summarize.silent_counters(traced, ["a", "b", "c"]), ["a", "c"])

    def test_only_the_newest_traced_run_counts(self):
        names = [m["name"] for m in SPEC["per_layer"]]
        live = {n: 1.0 for n in names}
        dead = dict(live, **{names[0]: 0.0})
        old, new = self.record("w", 1, live), self.record("w", 1, dead)
        self.assertEqual(summarize.problems([old, new]),
                         [f"{names[0]} reads zero in the newest traced run of every workload"])
        self.assertEqual(summarize.problems([new, old]), [])

    def test_incorrect_or_failed_run_is_a_problem(self):
        self.assertEqual(len(summarize.problems([self.record("w", 0, {}, correct=False)])), 1)
        self.assertEqual(len(summarize.problems([self.record("w", 0, {}, failed=1)])), 1)
        self.assertEqual(summarize.problems([self.record("w", 0, {})]), [])


if __name__ == "__main__":
    unittest.main()
