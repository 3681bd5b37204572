"""Self-tests of the benchmark's own helpers: the tail percentile, the
event-log parser, job attribution, span statistics, and BENCHMARK.json
against the metric names the benchmark prints. Needs no Spark.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402


def _task(stage, launch, finish, run_ms, shuffle_w=0, spill=0, out=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 0},
            "Output Metrics": {"Bytes Written": out}}})


def _job(jid, submit, end, stages, group=None):
    props = {trace.GROUP_PROP: group} if group else {}
    return [json.dumps({"Event": "SparkListenerJobStart", "Job ID": jid,
                        "Submission Time": submit, "Stage IDs": stages,
                        "Properties": props}),
            json.dumps({"Event": "SparkListenerJobEnd", "Job ID": jid,
                        "Completion Time": end})]


class TailTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))            # 1..100
        v, level, n = stats.tail(xs)
        self.assertEqual((v, level, n), (90.0, 90.0, 100))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_tail_of_eleven_is_the_smallest(self):
        v, level, n = stats.tail([5.0] + [9.0] * 10)
        self.assertEqual((v, n), (5.0, 11))
        self.assertAlmostEqual(level, 100 / 11)

    def test_tail_needs_more_than_ten(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * 10)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2, 10]), 2.5)


class EventLogTest(unittest.TestCase):
    def setUp(self):
        # job 0 (group pb0) runs stage 0 with 2 tasks; job 1 (no group,
        # submitted from a worker thread inside span pb1) runs stage 1 and
        # lists stage 0 again, which it skips; job 2 falls outside spans
        lines = (_job(0, 1000, 1400, [0], group="pb0")
                 + [_task(0, 1000, 1100, 90, shuffle_w=10),
                    _task(0, 1000, 1400, 380, shuffle_w=30, spill=7)]
                 + _job(1, 2100, 2300, [0, 1])
                 + [_task(1, 2100, 2300, 150, out=99)]
                 + _job(2, 5000, 5100, [2])
                 + [_task(2, 5000, 5100, 50)])
        self.log = trace.parse_event_log(lines)
        self.spans = [
            {"id": "pb0", "name": "outer", "parent": None,
             "start_ms": 900.0, "end_ms": 3000.0},
            {"id": "pb1", "name": "inner", "parent": "pb0",
             "start_ms": 2000.0, "end_ms": 2500.0},
        ]

    def test_stage_owned_by_first_job(self):
        self.assertEqual(self.log["jobs"][0]["stages"], [0])
        self.assertEqual(self.log["jobs"][1]["stages"], [1])

    def test_attribution_by_group_then_innermost_span(self):
        own = trace.attribute_jobs(self.spans, self.log)
        self.assertEqual(own, {"pb0": [0], "pb1": [1]})

    def test_span_stats_are_inclusive(self):
        own = trace.attribute_jobs(self.spans, self.log)
        outer = trace.span_stats(self.spans[0], self.spans, own, self.log)
        self.assertEqual(outer["jobs"], 2)
        self.assertEqual(outer["tasks"], 3)
        self.assertAlmostEqual(outer["task_s"], 0.62)
        self.assertEqual(outer["shuffle_bytes"], 40)
        self.assertEqual(outer["spill_bytes"], 7)
        self.assertEqual(outer["output_bytes"], 99)
        self.assertAlmostEqual(outer["task_skew"], 400 / 250)
        # 2100 ms of wall, jobs busy 400 + 200 ms
        self.assertAlmostEqual(outer["driver_gap_s"], 1.5)
        inner = trace.span_stats(self.spans[1], self.spans, own, self.log)
        self.assertEqual((inner["jobs"], inner["tasks"]), (1, 1))
        self.assertAlmostEqual(inner["driver_gap_s"], 0.3)

    def test_union_clips_and_merges(self):
        self.assertEqual(trace._union_ms([(0, 10), (5, 20), (30, 40)],
                                         2, 35), 23)


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_names_match_what_the_runs_print(self):
        import run

        with open(os.path.join(os.path.dirname(HERE),
                               "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in bench["per_layer"]], layers.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
