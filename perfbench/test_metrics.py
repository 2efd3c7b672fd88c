"""Tests for the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import metrics


def span(id_, name, parent, start, end, unit=0, **exec_):
    return {"id": id_, "name": name, "parent": parent, "unit": unit,
            "start_ns": start * 1000000, "end_ns": end * 1000000,
            "attrs": {}, "exec": exec_}


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(9))
        self.assertIsNone(metrics.tail_percentile(39))
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(99), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)

    def test_no_tail_for_the_run_sizes_measured(self):
        # a 20 s run holds ~25 export or ~5 corpus batches: only the
        # median has ten samples beyond it
        self.assertIsNone(metrics.tail_percentile(30))

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([5], 90), 5)
        self.assertAlmostEqual(metrics.percentile(range(11), 90), 9.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(0, "batch", -1, 0, 100), span(1, "route", 0, 10, 30),
                 span(2, "sink", 0, 40, 90)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 30.0)
        self.assertAlmostEqual(st[1], 20.0)
        self.assertAlmostEqual(st[2], 50.0)

    def test_overlapping_children_count_once(self):
        spans = [span(0, "p", -1, 0, 100), span(1, "a", 0, 10, 60),
                 span(2, "b", 0, 50, 70)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 40.0)

    def test_only_direct_children_and_clipped(self):
        spans = [span(0, "p", -1, 0, 100), span(1, "a", 0, 20, 120),
                 span(2, "a.x", 1, 30, 40)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 20.0)
        self.assertAlmostEqual(st[1], 90.0)

    def test_layer_medians_sum_repeated_spans_per_unit(self):
        spans = [span(0, "pipeline", -1, 0, 100, unit=0),
                 span(1, "curate", 0, 0, 10, unit=0, jobs=2),
                 span(2, "curate", 0, 90, 100, unit=0, jobs=1),
                 span(3, "pipeline", -1, 100, 200, unit=1),
                 span(4, "curate", 3, 100, 130, unit=1, jobs=5)]
        out = metrics.layer_spans({"spans": spans})
        self.assertAlmostEqual(out["curate.self_ms"][0], 25.0)
        self.assertEqual(out["curate.jobs"][0], 4.0)
        self.assertEqual(out["route.self_ms"][0], 0.0)


class Schema(unittest.TestCase):
    def setUp(self):
        self.spec = metrics.load_spec()

    def test_names_and_units_are_valid(self):
        self.assertTrue(metrics.valid_name("exec.task_cpu_ms"))
        self.assertTrue(metrics.valid_name("dedup_gate.self_ms"))
        for bad in ["", ".x", "a b", "a/b", "x" * 65, "route:ms"]:
            self.assertFalse(metrics.valid_name(bad), bad)
        names = [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertTrue(metrics.valid_name(m["name"]), m["name"])
            self.assertTrue(metrics.valid_unit(m["unit"]), m["unit"])

    def test_spec_contract(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        self.assertLessEqual(len(json.dumps(s)), 64 * 1024)

    def result(self):
        units = [{"ms": 900.0 + i, "rows": 10000, "id": i + 1,
                  "dur": {"triggerExecution": 900 + i, "addBatch": 800,
                          "latestOffset": 30, "getBatch": 10, "walCommit": 30,
                          "commitOffsets": 30, "queryPlanning": 15}}
                 for i in range(5)]
        return {"units": units, "plain_units": units, "wall_s": 4.6, "cpu_s": 8.0,
                "setup_s": 11.5, "peak_rss_kb": 900 * 1024, "heap_live_mb": 61.5,
                "exec": {"jobs": 10, "task_run_ms": 3000.0},
                "spans": [span(0, "batch", -1, 0, 900), span(1, "route", 0, 0, 200),
                          span(2, "sink", 0, 200, 880), span(3, "scan", -1, 900, 950)]}

    def test_end_to_end_line_has_exactly_the_spec_metrics(self):
        names = [m["name"] for m in self.spec["end_to_end"]]
        line = metrics.output_line(True, 5, 0, metrics.end_to_end(self.result()), names)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(line["metrics"]), set(names))
        for name, m in line["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertGreater(m["value"], 0, name)
        self.assertAlmostEqual(line["metrics"]["rows_per_s"]["value"], 50000 / 4.6)
        json.loads(json.dumps(line))

    def test_per_layer_line_has_exactly_the_spec_metrics(self):
        names = [m["name"] for m in self.spec["per_layer"]]
        line = metrics.output_line(True, 5, 0, metrics.per_layer(self.result(), {}), names)
        self.assertEqual(set(line["metrics"]), set(names))
        self.assertAlmostEqual(line["metrics"]["sink.self_ms"]["value"], 680.0)
        self.assertAlmostEqual(line["metrics"]["streaming.offsets_ms"]["value"], 40.0)
        self.assertAlmostEqual(line["metrics"]["sources.scan_ms"]["value"], 50.0)

    def test_schema_violations_raise(self):
        names = [m["name"] for m in self.spec["end_to_end"]]
        good = metrics.end_to_end(self.result())
        with self.assertRaises(ValueError):
            metrics.output_line(True, 5, 0, {k: v for k, v in good.items()
                                             if k != "setup_s"}, names)
        with self.assertRaises(ValueError):
            metrics.output_line(True, 0, 0, good, names)
        with self.assertRaises(ValueError):
            metrics.output_line(True, 5, 6, good, names)
        bad = dict(good, setup_s=(float("nan"), "s"))
        with self.assertRaises(ValueError):
            metrics.output_line(True, 5, 0, bad, names)


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.abspath(__file__)))
    unittest.main()
