"""Unit tests for the benchmark's metric arithmetic.

    python3 -m unittest discover -s kgbench/tests
"""

import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import analysis  # noqa: E402


def op(kind, wall, ok=True, traced=False, items=1, wrong=False, name="x"):
    return {"kind": kind, "name": name, "start_s": 0.0, "wall_s": wall, "ok": ok,
            "wrong": wrong, "traced": traced, "items": items, "error": "" if ok else "boom"}


def result(workload, ops, trace=False, checks=()):
    return {"workload": workload, "seed": 1, "trace": trace, "cores": 4, "session_s": 2.0,
            "setup_s": 30.0, "loop_s": 10.0, "heap_mb": [100.0, 180.5, 150.0],
            "ops": list(ops), "checks": list(checks)}


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(analysis.median(xs), 3.0)
        self.assertEqual(analysis.percentile(xs, 0), 1.0)
        self.assertEqual(analysis.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(analysis.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(analysis.percentile([1.0, 2.0], 50), 1.5)

    def test_median_agrees_with_statistics(self):
        xs = [0.31, 0.27, 1.4, 0.9, 0.5, 0.61]
        self.assertAlmostEqual(analysis.median(xs), statistics.median(xs))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            analysis.percentile([], 50)

    def test_drift_compares_halves(self):
        self.assertEqual(analysis.drift([4.0, 2.0, 1.0, 1.0]), (3.0, 1.0))
        self.assertEqual(analysis.drift([1.0, 9.0, 2.0]), (1.0, 2.0))
        self.assertIsNone(analysis.drift([1.0]))


class EndToEndTest(unittest.TestCase):
    def test_dashboard_metrics(self):
        r = result("dashboard_mix", [op("query", w) for w in (0.2, 0.4, 0.3)])
        m, attempted, failed, extra = analysis.end_to_end(r)
        self.assertAlmostEqual(m["op_p50_ms"], 300.0)
        self.assertAlmostEqual(m["read_p50_ms"], 300.0)
        self.assertAlmostEqual(m["work_per_s"], 3 / 0.9)
        self.assertEqual(m["setup_s"], 30.0)
        self.assertEqual(m["peak_heap_mb"], 180.5)
        self.assertEqual((attempted, failed, extra["error_rate"]), (3, 0, 0.0))
        self.assertEqual(set(m), set(analysis.END_TO_END))

    def test_forced_query_failure_raises_error_rate_and_is_not_a_latency(self):
        ops = [op("query", 0.2), op("query", 99.0, ok=False), op("query", 0.4)]
        m, attempted, failed, extra = analysis.end_to_end(result("dashboard_mix", ops))
        self.assertEqual((attempted, failed), (3, 1))
        self.assertAlmostEqual(extra["error_rate"], 1 / 3)
        self.assertAlmostEqual(m["op_p50_ms"], 300.0)  # the failed 99 s is not counted

    def test_wrong_result_exception_or_failed_check_is_incorrect(self):
        self.assertTrue(analysis.correct(result("dashboard_mix", [op("query", 1)])))
        self.assertFalse(analysis.correct(result("dashboard_mix", [op("query", 1, ok=False, wrong=True)])))
        self.assertFalse(analysis.correct(result("dashboard_mix", [op("query", 1, ok=False)])))
        self.assertFalse(analysis.correct(result("dashboard_mix", [],
                                                 checks=[{"name": "c", "ok": False, "detail": ""}])))

    def test_a_metric_without_successful_samples_is_an_error_not_zero(self):
        # ingest_small's only batch threw: no batch latency to report
        ops = [op("ingest", 9.0, ok=False), op("read", 0.5)]
        with self.assertRaises(analysis.MissingSample):
            analysis.end_to_end(result("ingest_small", ops))
        with self.assertRaises(analysis.MissingSample):
            analysis.end_to_end(dict(result("dashboard_mix", [op("query", 1)]), heap_mb=[]))

    def test_ingest_separates_batches_from_fresh_reads(self):
        ops = [op("ingest", 8.0, items=1500), op("read", 0.5), op("read", 0.7),
               op("ingest", 6.0, items=1500), op("read", 0.6)]
        m, attempted, _, _ = analysis.end_to_end(result("ingest_small", ops))
        self.assertAlmostEqual(m["op_p50_ms"], 7000.0)
        self.assertAlmostEqual(m["read_p50_ms"], 600.0)
        self.assertAlmostEqual(m["work_per_s"], 3000 / 14.0)
        self.assertEqual(attempted, 5)

    def test_traced_run_times_untraced_ops_only(self):
        ops = [op("build", 10.0, traced=True, items=100), op("build", 5.0, items=100),
               op("read", 1.0)]
        m, _, _, _ = analysis.end_to_end(result("build_full", ops, trace=True))
        self.assertAlmostEqual(m["op_p50_ms"], 5000.0)
        self.assertEqual(analysis.tracing_overhead(result("build_full", ops, trace=True)), (5.0, 5.0))


def span(i, name, parent, start, end):
    return {"run": "r", "id": i, "name": name, "parent": parent, "start_ms": start, "end_ms": end}


def task(stage, launch, finish, run, gc=0, shuffle=0, spill=0):
    return {"stage": stage, "launch_ms": launch, "finish_ms": finish, "run_ms": run,
            "gc_ms": gc, "shuffle_write_bytes": shuffle, "spill_bytes": spill}


class TraceTest(unittest.TestCase):
    def setUp(self):
        spans = [span(0, "run", -1, 0, 1000),
                 span(1, "setup.base", 0, 0, 300),
                 span(2, "extract.frames", 1, 10, 200),
                 span(3, "op", 0, 400, 900),
                 span(4, "extract.frames", 3, 450, 650),
                 span(5, "query.B3", 3, 700, 800)]
        jobs = [{"job": 0, "time_ms": 20, "group": 2, "stages": [0]},
                # pool-thread job with a stale group: falls back to time
                {"job": 1, "time_ms": 460, "group": 2, "stages": [1, 0]},
                {"job": 2, "time_ms": 710, "group": None, "stages": [2]}]
        tasks = [task(0, 20, 120, 100, gc=10, shuffle=2e6),
                 task(1, 460, 560, 100), task(1, 460, 760, 300, spill=1e6),
                 task(2, 710, 760, 40)]
        self.t = analysis.Trace(spans, jobs, tasks, [
            {"name": "canon.knn_tele.candidates", "value": 300},
            {"name": "canon.knn_tele.edges", "value": 100}])

    def test_job_attribution(self):
        self.assertEqual(self.t.job_span, {0: 2, 1: 4, 2: 5})

    def test_loop_spans_win_over_setup(self):
        self.assertEqual(self.t.layer_spans(lambda n: n == "extract.frames"), [4])

    def test_layer_stats(self):
        s = self.t.stats([4])
        self.assertAlmostEqual(s["wall_s"], 0.2)
        self.assertAlmostEqual(s["task_s"], 0.4)
        self.assertAlmostEqual(s["spill_mb"], 1.0)
        # tasks cover 460..650 of the 450..650 span: 10 ms idle
        self.assertAlmostEqual(s["idle_s"], 0.01)
        self.assertAlmostEqual(s["task_skew"], 300 / 200)
        self.assertEqual(s["jobs"], 1)
        setup = self.t.stats([2])
        self.assertAlmostEqual(setup["gc_s"], 0.01)
        self.assertAlmostEqual(setup["shuffle_mb"], 2.0)

    def test_self_time_and_remainder_add_up_to_traced_wall(self):
        self.assertAlmostEqual(self.t.self_ms(3), 500 - 200 - 100)
        self.assertAlmostEqual(self.t.self_ms(1), 300 - 190)
        wall, selfs, rem = analysis.accounting(self.t)
        self.assertAlmostEqual(wall, 1.0)
        self.assertAlmostEqual(rem, 0.2)  # 300..400 and 900..1000
        self.assertAlmostEqual(selfs + rem, wall)

    def test_per_layer_reports_every_named_metric(self):
        m = analysis.per_layer(self.t_with_all_queries())
        self.assertEqual(set(m), set(analysis.per_layer_names()))
        self.assertEqual(m["canon.knn_tele.cands_per_edge"], 3.0)
        self.assertEqual(m["canon.knn_content.cands_per_edge"], 0.5)
        self.assertEqual(m["query.B3.p50_ms"], 100)  # from the loop
        self.assertEqual(m["query.B7.p50_ms"], 10)   # from setup
        self.assertAlmostEqual(m["query.all.wall_s"], 0.1)

    def t_with_all_queries(self):
        """The fixture with the other B-queries run once in setup and
        both kNN layers counted."""
        spans = list(self.t.spans.values()) + [
            span(20 + k, "query.B%d" % k, 1, 250, 260) for k in range(1, 17) if k != 3]
        return analysis.Trace(spans, [], [], [
            {"name": "canon.knn_tele.candidates", "value": 300},
            {"name": "canon.knn_tele.edges", "value": 100},
            {"name": "canon.knn_content.candidates", "value": 50},
            {"name": "canon.knn_content.edges", "value": 100}])

    def test_union_length(self):
        self.assertEqual(analysis.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)
        self.assertEqual(analysis.clip([(0, 10), (20, 30)], 5, 25), [(5, 10), (20, 25)])


class PerLayerMissingTest(unittest.TestCase):
    def test_a_query_without_spans_is_an_error_not_zero(self):
        t = analysis.Trace([span(0, "run", -1, 0, 10)], [], [], [
            {"name": "canon.knn_tele.candidates", "value": 3}, {"name": "canon.knn_tele.edges", "value": 1},
            {"name": "canon.knn_content.candidates", "value": 3},
            {"name": "canon.knn_content.edges", "value": 1}])
        with self.assertRaises(analysis.MissingSample):
            analysis.per_layer(t)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_what_the_report_prints(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         {n: u for n, (u, _) in analysis.END_TO_END.items()})
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         analysis.per_layer_names())
        for w in spec["workloads"]:
            self.assertIn(w["name"], analysis.PRIMARY)


if __name__ == "__main__":
    unittest.main()
