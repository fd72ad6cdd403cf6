"""Unit tests for the benchmark's arithmetic. From the repository root:

    python3 -m unittest discover -s benchmark/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def beyond(self, xs, value):
        return sum(1 for x in xs if x > value)

    def test_too_few_samples_has_no_tail(self):
        self.assertIsNone(metrics.tail(list(range(19))))

    def test_twenty_samples_give_the_median(self):
        xs = list(range(1, 21))
        self.assertEqual(metrics.tail(xs), (50, 10))
        self.assertEqual(self.beyond(xs, 10), 10)

    def test_highest_percentile_keeps_ten_beyond(self):
        for n, want in ((100, 90), (1000, 99), (37, 72), (250, 96)):
            xs = [float(k) for k in range(n, 0, -1)]  # unsorted input
            p, v = metrics.tail(xs)
            self.assertEqual(p, want, n)
            self.assertGreaterEqual(self.beyond(xs, v), 10)
            # one percentile higher would leave fewer than ten beyond
            higher = sorted(xs)[-(-(p + 1) * n // 100) - 1]
            self.assertLess(self.beyond(xs, higher), 10)

    def test_spread_is_iqr_over_median(self):
        xs = [10, 20, 30, 40, 50, 60, 70, 80, 90]
        q1, q3 = 25, 75  # statistics.quantiles, exclusive method
        self.assertAlmostEqual(metrics.spread(xs), (q3 - q1) / 50)


class SteadyTest(unittest.TestCase):
    def raw(self, walls):
        return {"iterations": [{"i": i, "wall_ms": w} for i, w in enumerate(walls)],
                "setup_s": [3.0, 1.0, 1.2], "rows_per_iteration": 100}

    def test_warm_iterations_after_the_warmup_in_an_even_count(self):
        # cold, then warm 9..3: after two 7..3, trimmed to 6..3
        got = [it["wall_ms"] for it in metrics.steady(self.raw([50, 9, 8, 7, 6, 5, 4, 3]))]
        self.assertEqual(got, [6, 5, 4, 3])
        # six warm: after two 7, 6, 5, 4, even already
        got = [it["wall_ms"] for it in metrics.steady(self.raw([50, 9, 8, 7, 6, 5, 4]))]
        self.assertEqual(got, [7, 6, 5, 4])

    def test_alternating_cycles_give_the_midpoint(self):
        # compaction every second cycle: plain 1000 ms, compacting 2000 ms
        for n in (8, 9, 10, 11):
            walls = [5000] + [1000 + 1000 * (k % 2) for k in range(n)]
            e2e = metrics.end_to_end(self.raw(walls))
            self.assertAlmostEqual(e2e["rows_per_s"], 100 / 1.5, msg=n)
        self.assertEqual(e2e["setup_s"], 1.2)
        self.assertEqual(e2e["cold_s"], 5.0)


class OverheadTest(unittest.TestCase):
    def test_traced_iteration_against_its_untraced_neighbours(self):
        walls = [9000, 3000, 2900, 2600, 2520, 2200, 2000]  # a warm-up trend
        its = [{"i": i, "wall_ms": w, "traced": i % 2 == 0} for i, w in enumerate(walls)]
        ks, around, ratios = metrics.tracing_overhead(its)
        self.assertEqual(ks, [2, 4])  # 6 has no right neighbour
        self.assertEqual(around, [2800, 2400])
        self.assertAlmostEqual(ratios[0], 2900 / 2800 - 1)
        self.assertAlmostEqual(ratios[1], 2520 / 2400 - 1)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, start, end, parent=None):
        return {"id": i, "start": start, "end": end, "parent": parent}

    def test_nested_spans(self):
        spans = [self.span("r", 0, 10), self.span("a", 2, 8, "r"), self.span("b", 3, 5, "a")]
        self.assertEqual(metrics.self_times(spans), {"r": 4.0, "a": 4.0, "b": 2.0})

    def test_overlapping_siblings_split_shared_time(self):
        spans = [self.span("r", 0, 10), self.span("a", 2, 6, "r"), self.span("b", 4, 8, "r")]
        got = metrics.self_times(spans)
        self.assertEqual(got, {"r": 4.0, "a": 3.0, "b": 3.0})
        self.assertAlmostEqual(sum(got.values()), 10.0)

    def test_self_times_sum_to_root_duration(self):
        spans = [self.span("r", 0, 100), self.span("a", 0, 60, "r"),
                 self.span("b", 10, 90, "r"), self.span("c", 20, 30, "a"),
                 self.span("d", 25, 70, "b"), self.span("e", 50, 55, "d")]
        self.assertAlmostEqual(sum(metrics.self_times(spans).values()), 100.0)

    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(metrics.union_ms([]), 0.0)


class AmplificationTest(unittest.TestCase):
    def test_space_amp(self):
        self.assertEqual(metrics.space_amp(table_bytes=3000, fresh_bytes=1000), 3.0)

    def test_write_amp_sums_all_cycles(self):
        self.assertEqual(metrics.write_amp([400, 600, 2000], [100, 100, 200]), 7.5)


class TreeTest(unittest.TestCase):
    """One traced iteration with an INSERT whose SQL execution ran one job."""

    trace = {
        "spans": [
            {"id": 0, "name": "iteration", "start": 0.0, "end": 100.0, "parent": -1},
            {"id": 1, "name": "io.insert", "start": 5.0, "end": 60.0, "parent": 0},
        ],
        "actions": [{
            "exec": 7, "exec_start": 16.0, "exec_end": 50.0, "output": "",
            "phases": {"analysis": [6.0, 8.0], "optimization": [12.0, 14.0],
                       "planning": [14.0, 16.0]},
            "nodes": 12, "exchanges": 2, "rows_written": -1, "compile_ms": 4, "classes": 1,
        }],
        "jobs": [{"start": 20.0, "end": 45.0, "exec": 7,
                  "stages": [{"task_ms": [10, 30], "gc_ms": 1, "shuffle_write": 5,
                              "shuffle_read": 5, "spill": 0}]}],
    }

    def test_parents_and_layers(self):
        spans = {s["id"]: s for s in metrics.build_tree(self.trace)}
        self.assertEqual(spans["a0"]["parent"], "b1")
        self.assertEqual(spans["a0"]["name"], "io.action")
        self.assertEqual(spans["a0.analysis"]["parent"], "b1")  # ran before the execution
        self.assertEqual(spans["a0.planning"]["parent"], "a0")
        self.assertEqual(spans["a0.codegen"]["start"], 16.0)
        self.assertEqual(spans["j0"]["parent"], "a0")

    def test_layer_metrics(self):
        group, = metrics.iterations_of(metrics.build_tree(self.trace))
        m = metrics.layer_metrics(group, cores=4)
        self.assertEqual(m["io.insert_driver_ms"], 55.0 - 25.0)
        self.assertEqual(m["io.insert_jobs"], 1)
        self.assertEqual(m["layer.exec_ms"], 25.0)
        self.assertEqual(m["layer.codegen_ms"], 4.0)
        self.assertEqual(m["plans.planning_ms"], 2.0)
        self.assertEqual(m["exec.skew"], 30 / 20)
        self.assertEqual(m["exec.driver_ms"], 75.0)
        self.assertAlmostEqual(m["exec.busy_ratio"], 40 / (100 * 4))
        self.assertAlmostEqual(sum(m[f"layer.{l}_ms"] for l in metrics.LAYERS), 100.0)
        self.assertAlmostEqual(m["trace.self_sum_ms"], 100.0)


if __name__ == "__main__":
    unittest.main()
