"""Unit tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import unittest
from pathlib import Path

import metrics


def span(name, kind, start_ms, seconds, ok=True, attrs=None):
    return {"name": name, "kind": kind, "start_ms": start_ms, "seconds": seconds,
            "ok": ok, "error": None if ok else "boom", "attrs": attrs or {}}


def stage(submit_ms, run_ms=0, tasks=1, **kw):
    base = {"id": 0, "submit_ms": submit_ms, "tasks": tasks,
            "cpu_ns": 0, "run_ms": run_ms, "gc_ms": 0, "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0, "input": 0, "output": 0}
    base.update(kw)
    return base


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation_like_numpy(self):
        xs = [1.0, 2.0, 3.0, 4.0]
        self.assertEqual(metrics.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 3.7)
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 4.0)

    def test_order_does_not_matter_and_single_value(self):
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0], 50), 2.0)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)

    def test_p90_of_ten_values_lies_between_the_top_two(self):
        xs = [float(i) for i in range(1, 11)]
        self.assertAlmostEqual(metrics.percentile(xs, 90), 9.1)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class UnionTest(unittest.TestCase):
    def test_overlapping_and_nested_intervals_count_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (6, 7)]), 15)

    def test_disjoint_intervals_add_up(self):
        self.assertEqual(metrics.union_length([(20, 25), (0, 10)]), 15)

    def test_touching_intervals_and_empty_ones(self):
        self.assertEqual(metrics.union_length([(0, 5), (5, 8), (9, 9)]), 8)
        self.assertEqual(metrics.union_length([]), 0)

    def test_clip_keeps_only_the_window(self):
        self.assertEqual(metrics.clip([(-5, 5), (8, 20), (30, 40)], 0, 10), [(0, 5), (8, 10)])


class SparkLayersTest(unittest.TestCase):
    def test_jobs_attributed_by_time_and_covered_never_exceeds_wall(self):
        spans = [span("upsert-0", "fold", 1000, 2.0), span("read", "read", 4000, 1.0)]
        spark = {
            "jobs": [
                {"id": 0, "start_ms": 1100, "end_ms": 1600},
                {"id": 1, "start_ms": 1500, "end_ms": 2500},   # overlaps job 0
                {"id": 2, "start_ms": 2900, "end_ms": 3500},   # runs past q1's end
                {"id": 3, "start_ms": 3500, "end_ms": 3600},   # between spans
                {"id": 4, "start_ms": 4100, "end_ms": -1},     # never ended
            ],
            "stages": [stage(1100, run_ms=800), stage(3500, run_ms=50), stage(4100, run_ms=400)],
            "plans": [{"start_ms": 1050, "analysis_ms": 10, "optimization_ms": 20,
                       "planning_ms": 5}],
        }
        sp = metrics.spark_layers(spans, spark, cores=4)
        self.assertEqual(sp["spark.jobs"], 4)
        self.assertEqual(sp["spark.stages"], 2)
        # q1: union of [1100,2500] and [2900,3000] = 1.5 s; q2: [4100,5000] = 0.9 s
        self.assertAlmostEqual(sp["job_covered_s"], 2.4)
        self.assertAlmostEqual(sp["driver_only_s"], 0.6)
        self.assertLessEqual(sp["job_covered_s"], sp["wall_s"])
        self.assertAlmostEqual(sp["executor.run_s"], 1.2)
        self.assertAlmostEqual(sp["executor.busy_frac"], 1.2 / (2.4 * 4))
        self.assertAlmostEqual(sp["plan.optimization_s"], 0.02)

    def test_busy_frac(self):
        self.assertEqual(metrics.busy_frac(4.0, 2.0, 4), 0.5)
        self.assertEqual(metrics.busy_frac(4.0, 0.0, 4), 0.0)


def graph_raw(cycles, final, rebuild, spans=()):
    return {"workload": "graph_fold", "seed": 17, "instance": 1, "spans": list(spans),
            "peak_rss_kb": 2048, "setup_s": 4.5,
            "outputs": {"cycle_fingerprints": cycles, "final_fingerprint": final,
                        "rebuilt": rebuild is not None, "rebuild_fingerprint": rebuild}}


class EndToEndTest(unittest.TestCase):
    def test_graph_total_is_the_median_cycle_and_ops_are_folds(self):
        spans = [span("inputs", "setup", 0, 3.0), span("warm", "warm", 0, 9.0),
                 span("upsert-warm", "warm-op", 0, 8.0),
                 span("cycle-0", "cycle", 0, 12.0), span("cycle-1", "cycle", 0, 10.0),
                 span("cycle-2", "cycle", 0, 11.0),
                 span("upsert-0", "fold", 0, 6.0), span("delete-0", "fold", 0, 3.0),
                 span("upsert-1", "fold", 0, 5.0), span("delete-1", "fold", 0, 4.0),
                 span("read", "read", 0, 0.5)]
        e = metrics.end_to_end(graph_raw(["1:2"], "1:2", None, spans))
        self.assertEqual(e["setup_s"], 4.5)  # JVM start to the measured phase
        self.assertEqual(e["total_s"], 11.0)
        self.assertEqual(e["peak_rss_mb"], 2.0)
        self.assertAlmostEqual(e["op_s_p50"], 4.5)  # between 4.0 and 5.0
        self.assertEqual(e["op_samples"], 4)

    def test_failed_operations_are_not_timed(self):
        spans = [span("cycle-0", "cycle", 0, 1.0), span("cycle-1", "cycle", 0, 100.0, ok=False)]
        e = metrics.end_to_end(graph_raw(["1:2"], "1:2", None, spans))
        self.assertEqual(e["total_s"], 1.0)


class ReconcileTest(unittest.TestCase):
    def test_als_within_rounds_and_rounds_within_episode(self):
        spans = [span("episode-0", "episode", 0, 1.0),
                 span("round-0", "round", 0, 0.6, attrs={"als_s": 0.5}),
                 span("round-1", "round", 600, 0.4, attrs={"als_s": 0.3})]
        raw = {"spans": spans, "cores": 4, "spark": {}}
        self.assertEqual(metrics.reconcile(raw, {"driver_only_s": 0.0}), [])
        spans[2]["attrs"]["als_s"] = 0.55  # longer than its round; ALS total > episode
        self.assertEqual(len(metrics.reconcile(raw, {"driver_only_s": 0.0})), 2)


class CheckTest(unittest.TestCase):
    def test_a_failed_operation_fails_the_check(self):
        golden = {"graph": {"1": "1:2"}}
        self.assertEqual(metrics.check(graph_raw(["1:2"], "1:2", None), golden), [])
        raw = graph_raw(["1:2"], "1:2", None, [span("read", "read", 0, 1.0, ok=False)])
        self.assertEqual(len(metrics.check(raw, golden)), 1)

    def test_graph_must_equal_its_rebuild_and_survive_compaction(self):
        golden = {"graph": {"1": "10:4"}}
        self.assertEqual(metrics.check(graph_raw(["10:4", "10:5"], "10:5", "10:5"), golden), [])
        self.assertTrue(metrics.check(graph_raw(["10:4", "10:5"], "10:5", "10:6"), golden))
        self.assertTrue(metrics.check(graph_raw(["10:4", "10:5"], "10:6", "10:6"), golden))
        self.assertTrue(metrics.check(graph_raw(["10:4", None], "10:5", "10:5"), golden))
        # a single cycle ends on the golden, which was confirmed by a rebuild
        self.assertEqual(metrics.check(graph_raw(["10:4"], "10:4", None), golden), [])
        self.assertTrue(metrics.check(graph_raw(["10:4", "10:5"], "10:5", None), golden))

    def test_graph_golden_is_the_first_cycle_of_the_instance(self):
        raw = graph_raw(["10:4", "10:5"], "10:5", "10:5")
        self.assertTrue(metrics.check(raw, {"graph": {"1": "10:5"}}))
        self.assertTrue(metrics.check(raw, {"graph": {"17": "10:4"}}))

    def test_a_missing_golden_is_a_failure(self):
        self.assertTrue(metrics.check(graph_raw(["10:4"], "10:4", "10:4"), {}))
        raw = {"workload": "limeqo_loop", "seed": 2, "instance": 2, "spans": [],
               "outputs": {"rounds": 2, "default_total": 10.0, "episodes": [
                   {"trace_sha256": "ab", "rounds": 2, "total_latency": [9.0, 8.0],
                    "exec_time": [1.0, 2.0]}]}}
        self.assertEqual(metrics.check(raw, {"limeqo": {"2": "ab"}}), [])
        self.assertTrue(metrics.check(raw, {"limeqo": {"3": "ab"}}))
        self.assertTrue(metrics.check(raw, {"limeqo": {"2": "cd"}}))


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_and_units_match_the_benchmark_file(self):
        spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        for key, declared in [("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)]:
            self.assertEqual([(m["name"], m["unit"]) for m in spec[key]], declared)


if __name__ == "__main__":
    unittest.main()
