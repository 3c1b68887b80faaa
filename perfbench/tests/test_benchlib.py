"""Unit tests for the benchmark's own logic: percentiles and quartile
spread, self time from nested spans, the end-to-end metrics, and metric
validation against BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import benchlib  # noqa: E402
import metrics  # noqa: E402

REPO = os.path.dirname(os.path.dirname(HERE))


def span(id_, parent, start, end, name="s"):
    return {"id": id_, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(benchlib.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(benchlib.percentile([4, 1, 3, 2], 0), 1)
        self.assertEqual(benchlib.percentile([4, 1, 3, 2], 100), 4)
        self.assertAlmostEqual(benchlib.percentile(range(1, 11), 90), 9.1)

    def test_single_value_and_empty(self):
        self.assertEqual(benchlib.median([7.5]), 7.5)
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)

    def test_supported_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(benchlib.supported_percentile(19))
        self.assertEqual(benchlib.supported_percentile(20), 50)
        self.assertEqual(benchlib.supported_percentile(40), 75)
        self.assertEqual(benchlib.supported_percentile(100), 90)
        self.assertEqual(benchlib.supported_percentile(1000), 99)

    def test_quartile_spread_matches_statistics_quantiles(self):
        vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(benchlib.quartile_spread(vals), (q3 - q1) / q2)
        self.assertEqual(benchlib.quartile_spread([3.0] * 5), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(benchlib.self_times([span(1, 0, 10, 30)]), {1: 20})

    def test_parent_minus_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60),
                 span(4, 2, 12, 20)]
        st = benchlib.self_times(spans)
        self.assertEqual(st[1], 100 - 20 - 10)
        self.assertEqual(st[2], 20 - 8)
        self.assertEqual(st[3], 10)
        self.assertEqual(st[4], 8)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70)]
        self.assertEqual(benchlib.self_times(spans)[1], 100 - 60)

    def test_child_time_outside_parent_is_ignored(self):
        spans = [span(1, 0, 10, 20), span(2, 1, 5, 15)]
        self.assertEqual(benchlib.self_times(spans)[1], 5)


class ValidateMetricsTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def full(self, trace):
        return {n: {"value": 1.0, "unit": u}
                for n, u in benchlib.expected_metrics(self.bench, trace).items()}

    def test_complete_sets_pass(self):
        self.assertEqual(benchlib.validate_metrics(self.full(False), self.bench, False), [])
        self.assertEqual(benchlib.validate_metrics(self.full(True), self.bench, True), [])

    def test_missing_extra_unit_and_value_problems(self):
        m = self.full(False)
        name = next(iter(m))
        del m[name]
        m["not_a_metric"] = {"value": 1.0, "unit": "s"}
        other = next(iter(m))
        m[other] = {"value": float("nan"), "unit": "furlongs"}
        problems = benchlib.validate_metrics(m, self.bench, False)
        self.assertIn(f"missing metric {name}", problems)
        self.assertIn("metric not_a_metric is not in BENCHMARK.json", problems)
        self.assertTrue(any("unit furlongs" in p for p in problems))
        self.assertTrue(any("value nan" in p for p in problems))

    def test_benchmark_json_lists_what_the_code_reports(self):
        layer = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(layer, metrics.per_layer_units())
        e2e = {m["name"] for m in self.bench["end_to_end"]}
        self.assertIn("setup_s", e2e)
        self.assertEqual(max(m["bound"] for m in self.bench["end_to_end"]),
                         next(m["bound"] for m in self.bench["end_to_end"] if m["name"] == "setup_s"))


class EndToEndTest(unittest.TestCase):
    @staticmethod
    def raw(workload, ops):
        return {"workload": workload, "setup_s": [9.0, 2.0, 3.0], "heap_mb": [50.0, 70.0],
                "ops": [dict(o, leg="wide") for o in ops]}

    def test_page_workloads_use_the_median_operation(self):
        ops = [{"wall_s": w, "items": 8000} for w in (2.0, 4.0, 3.0)]
        m = metrics.end_to_end(self.raw("kg_extract", ops))
        self.assertEqual(m["op_s"], (3.0, "s"))
        self.assertEqual(m["items_per_s"], (8000 / 3.0, "1/s"))
        self.assertEqual(m["setup_s"], (3.0, "s"))
        self.assertEqual(m["peak_live_heap_mb"], (70.0, "MB"))

    def test_battery_weighs_every_query_the_same(self):
        # q1 ran twice (median 0.25 s), q2 once (4 s): geometric mean 1 s
        ops = [{"query": "q1", "wall_s": 0.2}, {"query": "q1", "wall_s": 0.3},
               {"query": "q2", "wall_s": 4.0}]
        m = metrics.end_to_end(self.raw("battery", ops))
        self.assertAlmostEqual(m["op_s"][0], 1.0)
        self.assertAlmostEqual(m["items_per_s"][0], 3 / 4.5)


if __name__ == "__main__":
    unittest.main()
