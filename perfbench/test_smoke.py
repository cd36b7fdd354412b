"""The benchmark's own test.

    python3 perfbench/test_smoke.py          # from the repository root

The smoke cases run the real command (`run.py --smoke`: inputs at scale
0.001, one timed pass) for every workload, untraced and traced, and
check that every metric and every output check ran. The unit cases pin
the metric arithmetic: tails, failure accounting, wrong results.
"""
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = [w["name"] for w in metrics.spec()["workloads"]]


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p, (json.loads(lines[-2]) if len(lines) > 1 else None), (
        json.loads(lines[-1]) if lines else None)


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        p, report, result = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-4000:])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], report)
        self.assertEqual(result["failed"], 0)
        self.assertGreater(result["attempted"], 0)
        want = metrics.spec()["per_layer" if trace else "end_to_end"]
        self.assertEqual(list(result["metrics"]), [m["name"] for m in want])
        for m in want:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        self.assertEqual(report["wrong"], [])
        for k in ("calibration_s", "stall_s"):
            self.assertIn(k, report["host"])
        if workload == "lakehouse":
            for k in ("commit_p50_s", "commit_tail_s", "read_after_write_p50_s",
                      "write_amp", "space_amp"):
                self.assertGreater(report["metrics"][k]["value"], 0, k)
        if trace:
            self.assertEqual(report["reconcile"]["unreconciled"], [], report["reconcile"])
            self.assertGreater(report["reconcile"]["ops"], 0)
            self.assertGreater(result["metrics"]["scheduler.jobs"]["value"], 0)

    def test_workloads(self):
        for w in WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check(w, trace)


def sample(kind, wall, error=None, pass_=0, traced=False, rows=1):
    return {"id": "x", "name": f"delta.{kind}" if kind == "commit" else "q", "kind": kind,
            "step": 0, "pass": pass_, "traced": traced, "wall_s": wall, "build_s": 0.0,
            "action_s": wall, "rows": rows, "error": error,
            "extra": {"input_rows": 10.0}, "layers": {}}


def result(samples):
    return {"workload": "interactive", "seed": 1, "passes": 1, "window_s": 9.0,
            "setup_s": 3.0, "phases": {}, "finish": {}, "peak_rss_mb": 100.0,
            "host": {}, "samples": samples}


class Arithmetic(unittest.TestCase):
    def test_tail_is_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail(list(range(1, 101))), (90.0, 90, 10))
        self.assertEqual(metrics.tail(list(range(1, 41))), (75.0, 30, 10))
        self.assertEqual(metrics.tail([1.0, 2.0, 3.0]), (50.0, 2.0, 1))

    def test_failed_op_is_counted_and_misses_every_limit(self):
        s = [sample("query", 0.5), sample("query", 0.7), sample("query", 0.1, error="boom")]
        report, res = metrics.summarize(result(s), [], 4, 0)
        self.assertFalse(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (3, 1))
        self.assertEqual(report["metrics"]["op_p50_s"]["value"], 0.7)
        self.assertAlmostEqual(res["metrics"]["op_geomean_s"]["value"], (0.5 * 0.7 * 9.0) ** (1 / 3))
        self.assertEqual(report["failed_ops"], ["q: boom"])
        self.assertEqual(report["metrics"]["error_rate"]["value"], 1 / 3)

    def test_wrong_result_fails_the_run(self):
        report, res = metrics.summarize(result([sample("query", 0.5)]), ["q: 1 rows vs oracle 2"], 4, 0)
        self.assertFalse(res["correct"])
        self.assertEqual(report["metrics"]["wrong_results"]["value"], 1)

    def test_setup_is_the_cold_set_up(self):
        _, res = metrics.summarize(result([sample("query", 0.5)]), [], 4, 0)
        self.assertEqual(res["metrics"]["setup_s"]["value"], 3.0)


def job(start, end, phase="action"):
    return {"phase": phase, "start_ms": start, "end_ms": end, "stages": 1, "tasks": 4,
            "cpu_ns": 0, "gc_ms": 0, "in_bytes": 0, "in_rows": 0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "fetch_wait_ms": 0, "spill_bytes": 0, "delay_ms": 0}


def traced_op(jobs, plans):
    """One traced query over [1000, 2000) ms: a 200 ms build span, then
    the action."""
    s = sample("query", 1.0, traced=True)
    s.update(start_ms=1000, end_ms=2000, build_s=0.2, action_s=0.8,
             events={"jobs": jobs, "plans": plans})
    return s


PLAN = {"analysis": [1010, 1050], "optimization": [1210, 1250], "planning": [1250, 1280]}


class Reconcile(unittest.TestCase):
    def test_layers_split_the_wall_time(self):
        layers, problems = metrics.op_layers(traced_op([job(1300, 1800)], [PLAN]))
        self.assertEqual(problems, [])
        self.assertAlmostEqual(layers["operators.build_self_s"], 0.16)  # 200 ms less analysis
        self.assertAlmostEqual(layers["catalyst.analysis_s"], 0.04)
        self.assertAlmostEqual(layers["catalyst.optimization_s"], 0.04)
        self.assertAlmostEqual(layers["catalyst.planning_s"], 0.03)
        self.assertAlmostEqual(layers["scheduler.job_s"], 0.5)
        self.assertAlmostEqual(layers["trace.other_s"], 0.23)
        self.assertEqual(layers["trace.reconcile_err_s"], 0.0)

    def test_job_of_a_neighbouring_op_fails(self):
        layers, problems = metrics.op_layers(
            traced_op([job(1300, 1800), job(2300, 2600)], [PLAN]))
        # 599 ms outside the window (1 ms of clock rounding allowed), and
        # the parts now exceed the wall time by 70 ms
        self.assertAlmostEqual(layers["trace.reconcile_err_s"], 0.669)
        self.assertIn("outside the op window", problems[0])
        s = traced_op([job(1300, 1800), job(2300, 2600)], [PLAN])
        _, rec = metrics.layer_metrics({"samples": [s]}, 4)
        self.assertEqual([u["op"] for u in rec["unreconciled"]], ["x"])

    def test_phase_counted_twice_fails(self):
        layers, problems = metrics.op_layers(traced_op([job(1300, 1800)], [PLAN, PLAN]))
        self.assertAlmostEqual(layers["trace.reconcile_err_s"], 0.11)
        self.assertFalse(metrics.reconciles({"wall_s": 1.0, "layers": layers}))
        self.assertIn("count", problems[0])

    def test_traced_run_reports_every_per_layer_metric(self):
        s = [traced_op([job(1300, 1800)], [PLAN]), sample("query", 0.9)]
        _, res = metrics.summarize(result(s), [], 4, 1)
        self.assertEqual(list(res["metrics"]), [m["name"] for m in metrics.spec()["per_layer"]])
        self.assertAlmostEqual(res["metrics"]["trace.overhead_s"]["value"], 0.1)

    def test_jobs_longer_than_the_op_fail(self):
        # overlapping jobs count once; a job that never ended does not pass
        layers, _ = metrics.op_layers(traced_op([job(1300, 1800), job(1400, 1700)], [PLAN]))
        self.assertAlmostEqual(layers["scheduler.job_s"], 0.5)
        layers, problems = metrics.op_layers(traced_op([job(1300, -1)], [PLAN]))
        self.assertGreater(layers["trace.reconcile_err_s"], 0.5)
        self.assertIn("never ended", problems[0])


if __name__ == "__main__":
    unittest.main()
