"""Tests of the benchmark's own arithmetic, on fixed inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class StatsTest(unittest.TestCase):
    def test_median_and_spread(self):
        xs = [4.0, 1.0, 3.0, 2.0, 10.0, 6.0, 5.0, 8.0, 7.0, 9.0]
        self.assertEqual(stats.median(xs), 5.5)
        # statistics.quantiles(n=4), exclusive method: q1 = 2.75, q3 = 8.25
        self.assertAlmostEqual(stats.spread(xs), (8.25 - 2.75) / 5.5)
        self.assertEqual(stats.spread([2.0, 2.0, 2.0, 2.0]), 0.0)

    def test_failed_frac(self):
        self.assertEqual(stats.failed_frac(50, 0), 0.0)
        self.assertAlmostEqual(stats.failed_frac(10, 3), 0.3)
        # failed checks on top of failed operations never exceed the whole
        self.assertEqual(stats.failed_frac(2, 5), 1.0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(stats.union_length([(5, 6), (0, 10)]), 10.0)
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2.0)

    def test_self_times(self):
        spans = [
            ("pass", -1, 0.0, 10.0),
            ("a", 0, 1.0, 3.0),
            ("b", 0, 2.0, 5.0),   # overlaps a: covered once
            ("c", 0, 7.0, 8.0),
            ("c.child", 3, 7.0, 7.5),
        ]
        self.assertEqual(stats.self_times(spans), [5.0, 2.0, 3.0, 0.5, 0.5])

    def test_per_root_groups_by_root(self):
        spans = [
            ("pass", -1, 0.0, 4.0), ("q", 0, 0.0, 1.0), ("q", 0, 1.0, 3.0),
            ("pass", -1, 10.0, 12.0), ("q", 3, 10.0, 11.0),
        ]
        first, second = stats.per_root(spans)
        self.assertEqual(first, {"pass": 1.0, "q": 3.0})
        self.assertEqual(second, {"pass": 1.0, "q": 1.0})

    def test_entry_keep_ratio(self):
        # 61 plots over 2 x 20000 events, 213,500 entries in some bucket
        self.assertAlmostEqual(stats.entry_keep_ratio(213500, 40000, 61), 0.0875, places=4)

    def test_end_to_end(self):
        raw = {"setup_s": [20.0, 7.0, 8.0], "pass_s": [5.0, 4.0, 6.0],
               "rows_per_pass": 40000, "peak_rss_kb": 2048 * 1024}
        self.assertEqual(stats.end_to_end(raw), {
            "setup_s": 8.0, "wall_s": 5.0, "events_per_s": 8000.0, "peak_rss_mb": 2048.0})

    def test_per_layer(self):
        listener = {"jobs": [[0.0, 1.0], [0.5, 2.0], [3.0, 4.0]], "stages": 4, "tasks": 12,
                    "task_run_s": 6.0, "task_cpu_s": 5.0, "gc_s": 0.1,
                    "shuffle_read_mb": 1.0, "shuffle_write_mb": 1.0, "spill_mb": 0.0,
                    "input_mb": 2.0, "output_mb": 0.5, "plan_s": 0.25}
        raw = {
            "pass_s": [4.0, 4.0], "traced_pass_s": [4.2, 4.2],
            "prefix_s": [
                {"build": 0.5, "scan": 1.0, "objects": 1.5, "flags": 1.75, "histpass": 3.0,
                 "cutflow": 2.25},
                {"build": 0.5, "scan": 1.0, "objects": 1.5, "flags": 1.75, "histpass": 3.0,
                 "cutflow": 2.25}],
            "spans": [("pass", -1, 0.0, 4.0), ("flow.run_sample", 0, 0.0, 1.5),
                      ("flow.run_sample", 0, 1.5, 3.0), ("flow.read_counters", 0, 3.0, 3.5),
                      ("flow.post_process", 0, 3.5, 4.0)],
            "listener": [listener],
            "counts": {"plots": 61, "selections": 6, "hist_entries": 213500, "events": 40000},
        }
        m = stats.per_layer(raw, ["Dedup"])
        self.assertEqual(m["core.scan_s"], 1.0)
        self.assertEqual(m["physics.objects_s"], 0.5)
        self.assertEqual(m["flow.flags_s"], 0.25)
        self.assertEqual(m["flow.histpass_s"], 1.25)
        self.assertEqual(m["flow.cutflow_s"], 0.5)
        self.assertEqual(m["driver.build_s"], 0.5)
        self.assertEqual(m["flow.run_sample_s"], 3.0)
        self.assertEqual(m["flow.read_counters_s"], 0.5)
        self.assertEqual(m["operators.Dedup.wall_s"], 0.0)
        self.assertEqual(m["spark.exec_s"], 3.0)
        self.assertEqual(m["spark.jobs"], 3.0)
        self.assertEqual(m["spark.job_latency_ms"], 1000.0)
        self.assertEqual(m["spark.parallelism"], 2.0)
        self.assertEqual(m["catalyst.plan_s"], 0.25)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.05)
        self.assertAlmostEqual(m["flow.entry_keep_ratio"], 0.0875, places=4)

    def test_per_layer_operators(self):
        raw = {
            "pass_s": [2.0], "traced_pass_s": [2.0], "prefix_s": [],
            "spans": [("pass", -1, 0.0, 2.0), ("operators.Dedup", 0, 0.0, 0.75),
                      ("driver.build", 1, 0.0, 0.25), ("operators.Dedup", 0, 0.75, 1.0),
                      ("operators.Graph", 0, 1.0, 2.0)],
            "listener": [{"jobs": [], "stages": 0, "tasks": 0, "task_run_s": 0.0,
                          "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
                          "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0,
                          "output_mb": 0.0, "plan_s": 0.0}],
            "counts": {"queries": 3},
        }
        m = stats.per_layer(raw, ["Dedup", "Graph", "Pq"])
        # the module's queries outside their frame build
        self.assertEqual(m["operators.Dedup.wall_s"], 0.75)
        self.assertEqual(m["operators.Graph.wall_s"], 1.0)
        self.assertEqual(m["operators.Pq.wall_s"], 0.0)
        self.assertEqual(m["driver.build_s"], 0.25)
        self.assertEqual(m["core.scan_s"], 0.0)
        self.assertEqual(m["flow.entry_keep_ratio"], 0.0)
        self.assertEqual(m["spark.job_latency_ms"], 0.0)


if __name__ == "__main__":
    unittest.main()
