#!/usr/bin/env python3
"""The benchmark's own tests: the percentile rule, failure accounting,
self time, BENCHMARK.json against run.py, and (through the JVM side's
SelfTest) the open-loop schedule and its due-time stamping.

    python3 perfbench/test_perfbench.py
"""
import json
import math
import os
import subprocess
import sys
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402

INF = math.inf


class PercentileRule(unittest.TestCase):
    def test_linear_between_closest_ranks(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0.5), 2.5)
        self.assertAlmostEqual(stats.percentile([1, 2, 3], 0.9), 2.8)
        self.assertEqual(stats.percentile([7], 0.99), 7)
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 1.0), 5)

    def test_failures_sort_last_and_poison_percentiles_that_touch_them(self):
        lat = [1.0, 2.0, 3.0, INF]
        self.assertEqual(stats.percentile(lat, 0.5), 2.5)
        self.assertEqual(stats.percentile(lat, 0.9), INF)

    def test_empty_is_nan(self):
        self.assertTrue(math.isnan(stats.percentile([], 0.5)))


class FailureAccounting(unittest.TestCase):
    def batch(self, samples, verdicts):
        res = {"check": {}, "passes_s": [10.0], "samples": [
            {"q": q, "pass": 1, "s": s, "status": st, "pinned_mb": 0.0}
            for q, s, st in samples]}
        with mock.patch.dict(sys.modules, {"oracle": mock.Mock(check=lambda *a: verdicts)}):
            return run.batch_metrics(res, "out", "data")

    def test_a_crash_counts_as_infinitely_slow_never_as_fast(self):
        m, attempted, failed, problems, _ = self.batch(
            [("a", 1.0, "ok"), ("b", 0.01, "crash"), ("c", 3.0, "ok")],
            {"a": None, "b": None, "c": None})
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(m["latency_p50_s"], 3.0)    # 1.0, 3.0, inf
        self.assertEqual(m["latency_tail_s"], INF)
        self.assertEqual(m["ops_per_busy_s"], 0.2)   # 2 good queries in 10 s
        self.assertIn("b pass 1: crash", problems)

    def test_oracle_mismatch_fails_every_sample_of_the_query(self):
        m, attempted, failed, problems, _ = self.batch(
            [("a", 1.0, "ok"), ("a", 1.1, "ok"), ("c", 2.0, "mismatch")],
            {"a": "row count: spark=3 duck=4", "c": None})
        self.assertEqual((attempted, failed), (3, 3))
        self.assertEqual(m["latency_p50_s"], INF)
        self.assertTrue(any(p.startswith("a: row count") for p in problems))

    def stream(self, **over):
        st = {"latency_s": [0.5, 0.7, INF], "failures": {"missing": 1}, "unknown_emits": 0,
              "display": {"disorder": 0, "wrong_drops": 0, "balanced": True},
              "backlog_max": 10, "batches": 3, "latency_col_s": [0.1, 0.2],
              "burst_frames": 6, "burst_frames_per_s": [300.0, 200.0, 250.0]}
        st.update(over)
        return run.stream_metrics({"stream": st}, rate=100)

    def test_stream_missing_frame_and_display_violations_count(self):
        m, attempted, failed, problems, _ = self.stream()
        self.assertEqual((attempted, failed), (3 + 6, 1))
        self.assertEqual(m["latency_tail_s"], INF)
        self.assertEqual(m["ops_per_busy_s"], 250.0)   # median burst
        _, _, failed, problems, _ = self.stream(
            unknown_emits=1, display={"disorder": 2, "wrong_drops": 0, "balanced": False})
        self.assertEqual(failed, 1 + 1 + 2 + 1)

    def test_a_failed_burst_frame_counts_and_its_burst_reads_zero(self):
        # the JVM side reports a burst with a failed frame as 0 frames/s
        m, attempted, failed, _, _ = self.stream(
            failures={"missing": 1, "wrong": 1}, burst_frames_per_s=[300.0, 0.0, 0.0])
        self.assertEqual((attempted, failed), (9, 2))
        self.assertEqual(m["ops_per_busy_s"], 0.0)

    def test_growing_backlog_invalidates_the_run(self):
        _, _, _, problems, _ = self.stream(backlog_max=100 * run.BACKLOG_BOUND_S + 1)
        self.assertTrue(any("backlog" in p for p in problems))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "name": "query", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "name": "build", "start_ms": 0, "end_ms": 60},
            {"id": "job1", "parent": 2, "name": "spark.job", "start_ms": 10, "end_ms": 30},
            {"id": "job2", "parent": 2, "name": "spark.job", "start_ms": 20, "end_ms": 40},
            {"id": 3, "parent": 1, "name": "exec", "start_ms": 60, "end_ms": 90},
        ]
        t = stats.self_times(spans)
        self.assertEqual(t["query"], 10)
        self.assertEqual(t["build"], 30)     # 60 - union(10..40)
        self.assertEqual(t["spark.job"], 40)
        self.assertEqual(t["exec"], 30)


class BenchmarkFile(unittest.TestCase):
    def test_metrics_and_workloads_match_run_py(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.PER_LAYER)
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])


class Schedule(unittest.TestCase):
    def test_schedule_and_due_time_stamping(self):
        """Runs perfbench.SelfTest (see src/perfbench/SelfTest.scala)."""
        out = os.path.join(ROOT, ".bench_build", "perfbench")
        os.makedirs(out, exist_ok=True)
        jar, _ = run.build(ROOT, out)
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", os.pathsep.join([jar] + run.spark_jars()),
                            "perfbench.SelfTest"], capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertIn("selftest ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
