"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def span(i, parent, name, start, end, **counters):
    return {"id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end,
            "counters": counters}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.p90_if_supported(list(range(99))))
        self.assertEqual(stats.p90_if_supported(list(range(1, 101))), 90)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 100), 5)


class Spread(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        self.assertEqual(stats.quartiles(xs), (2.75, 5.5, 8.25))

    def test_iqr_share(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        self.assertAlmostEqual(stats.iqr_share(xs), 5.5 / 5.5)
        self.assertEqual(stats.iqr_share([2.0] * 10), 0.0)


class PairRule(unittest.TestCase):
    def test_ties_count_for_neither_side(self):
        self.assertEqual(stats.pair_wins([1, 2, 3], [0.5, 2, 4]), 1)
        self.assertEqual(stats.pair_wins([1, 2, 3], [0.5, 2, 4], better="higher"), 1)

    def test_nine_of_ten(self):
        self.assertTrue(stats.nine_of_ten(9, 10))
        self.assertFalse(stats.nine_of_ten(8, 10))
        self.assertTrue(stats.nine_of_ten(18, 20))
        self.assertFalse(stats.nine_of_ten(9, 9))  # fewer than ten pairs

    def test_improved_needs_wins_and_a_gap_beyond_the_parent_iqr(self):
        parent = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0, 10.05]
        self.assertEqual(stats.verdict(parent, [p - 1 for p in parent], 0.1), "improved")
        # wins every pair by a hair: inside the parent's IQR, no gain
        self.assertEqual(stats.verdict(parent, [p - 0.001 for p in parent], 0.1),
                         "within-bound")


class BoundCheck(unittest.TestCase):
    def test_worse_share_and_bound(self):
        self.assertAlmostEqual(stats.worse_share(10.0, 11.0), 0.1)
        self.assertAlmostEqual(stats.worse_share(10.0, 11.0, better="higher"), -0.1)
        self.assertTrue(stats.within_bound(10.0, 10.9, 0.1))
        self.assertFalse(stats.within_bound(10.0, 11.2, 0.1))

    def test_verdicts(self):
        parent = [10.0] * 5 + [10.2] * 5
        self.assertEqual(stats.verdict(parent, [12.0] * 10, 0.1), "worse")
        self.assertEqual(stats.verdict(parent, [10.3] * 10, 0.1), "within-bound")
        noisy = [5, 6, 8, 10, 10, 12, 14, 15, 16, 10]
        self.assertEqual(stats.verdict(noisy, [10.5] * 10, 0.1), "unresolved")


class ErrorRatio(unittest.TestCase):
    def test_counts_timeouts_failures_and_wrong_results(self):
        execs = [{"op": "a", "ok": True}, {"op": "a", "ok": True},
                 {"op": "b", "ok": False},  # exceeded the ceiling
                 {"op": "c", "ok": True}, {"op": "c", "ok": True}]
        self.assertEqual(stats.count_failed(execs, set()), 1)
        self.assertEqual(stats.error_ratio(execs, set()), 1 / 5)
        self.assertEqual(stats.count_failed(execs, {"c"}), 3)  # c returned a wrong result
        self.assertEqual(stats.error_ratio(execs, {"c"}), 3 / 5)

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(stats.error_ratio([], set()), 1.0)

    def test_counts_timed_executions_whose_row_count_differs(self):
        # the checked (first) result of q had 5 rows; a later call that
        # returns 4 fails, actions and failed calls carry no row count
        execs = [{"op": "q", "ok": True, "rows": 5}, {"op": "q", "ok": True, "rows": 4},
                 {"op": "w", "ok": True, "rows": None}, {"op": "q", "ok": False, "rows": None}]
        self.assertEqual(stats.count_failed(execs, set()), 1)
        self.assertEqual(stats.count_failed(execs, set(), {"q": 5}), 2)
        self.assertEqual(stats.error_ratio(execs, set(), {"q": 5}), 2 / 4)


class CleanSamples(unittest.TestCase):
    def test_drops_samples_taken_under_steal_unless_none_is_clean(self):
        xs = [{"steal": 0.0, "v": 1}, {"steal": 0.3, "v": 2}, {"steal": 0.02, "v": 3}]
        self.assertEqual([x["v"] for x in stats.clean(xs)], [1, 3])
        dirty = [{"steal": 0.1, "v": 1}, {"steal": 0.2, "v": 2}]
        self.assertEqual(stats.clean(dirty), dirty)


class EndToEnd(unittest.TestCase):
    def record(self, fail_op=None):
        ops = [{"op": op, "ok": op != fail_op, "wall_s": 1.0 + i / 10, "steal": 0.0}
               for i, op in enumerate(run.REF_OPS)]
        return {"setup_s": 30.0, "passes": [
            {"traced": False, "wall_s": 9.0, "steal": 0.0, "ops": ops},
            {"traced": False, "wall_s": 50.0, "steal": 0.5,  # stolen: left out
             "ops": [dict(o, wall_s=o["wall_s"] * 5, steal=0.5) for o in ops]},
            {"traced": False, "wall_s": 10.0, "steal": 0.0, "ops": ops}]}

    def test_medians_of_clean_samples(self):
        m, p90 = run.end_to_end(self.record(), run.WORKLOADS["refscale"])
        self.assertEqual(m["pass_s"], 9.5)
        self.assertEqual(m["r7_clustered_write_s"], 1.0)
        self.assertAlmostEqual(m["op_p50_s"], 1.3)
        self.assertIsNone(p90)

    def test_an_op_that_fails_every_execution_has_no_value(self):
        m, _ = run.end_to_end(self.record("r8_point_lookup"), run.WORKLOADS["refscale"])
        self.assertIsNone(m["r8_point_lookup_s"])
        self.assertIsNone(m["op_p50_s"])
        self.assertEqual(m["r1_field_values_s"], 1.1)


class SelfTime(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        parent = span(0, -1, "exec", 100, 200)
        kids = [span(1, 0, "job", 110, 130), span(2, 0, "job", 120, 150),
                span(3, 0, "job", 190, 260)]
        # covered: 110-150 and 190-200 -> 50 of 100
        self.assertEqual(stats.self_time(parent, kids), 50)

    def test_no_children(self):
        self.assertEqual(stats.self_time(span(0, -1, "op", 0, 7), []), 7)


class Layers(unittest.TestCase):
    def op(self):
        s = 1_000_000_000
        return {"op": "r8_point_lookup", "spans": [
            span(0, -1, "r8_point_lookup", 0, 10 * s, **{"scan.rows": 1000.0, "result.rows": 10.0}),
            span(1, 0, "build", 0, 1 * s), span(2, 0, "plan", 1 * s, 2 * s),
            span(3, 0, "exec", 2 * s, 10 * s),
            span(4, 1, "job 1", 0, s // 2), span(5, 4, "stage 1", 0, s // 2, tasks=1.0),
            span(6, 3, "job 2", 2 * s, 6 * s),
            span(7, 6, "stage 2", 2 * s, 6 * s, tasks=4.0, busy_s=8.0, peak_exec_mem_mb=3.0),
            span(8, 6, "stage 3", 2 * s, 6 * s, tasks=2.0, busy_s=2.0, peak_exec_mem_mb=5.0)]}

    def test_op_layers(self):
        m = layers.op_layers(self.op())
        self.assertEqual((m["build.jobs"], m["build.tasks"]), (1, 1.0))
        self.assertEqual((m["exec.jobs"], m["exec.stages"], m["exec.tasks"]), (1, 2, 6.0))
        self.assertAlmostEqual(m["exec.driver_gap_s"], 4.0)
        self.assertAlmostEqual(m["exec.core_util"], 10.0 / (8.0 * 4))
        self.assertEqual(m["exec.peak_exec_mem_mb"], 5.0)
        self.assertEqual(m["scan.rows_per_result"], 100.0)
        self.assertAlmostEqual(m["trace.coverage"], 1.0)
        self.assertTrue(layers.coverage_ok(m))

    def test_overhead_compares_each_traced_pass_with_its_neighbours(self):
        # untraced passes speed up as the JIT warms: 12, 10, 8 s; the
        # traced pass between 12 and 10 took 11.55 s, 5% over their mean
        passes = [{"traced": False, "wall_s": 12.0, "ops": [], "gc_s": 0.0},
                  {"traced": True, "wall_s": 11.55, "ops": [self.op()], "gc_s": 0.1},
                  {"traced": False, "wall_s": 10.0, "ops": [], "gc_s": 0.0}]
        m = layers.run_layers({"passes": passes, "session_start_s": 5.0, "peak_rss_mb": 900.0})
        self.assertAlmostEqual(m["trace.overhead"], 1.05)
        self.assertEqual((m["jvm.gc_s"], m["session.start_s"]), (0.1, 5.0))

    def test_pass_layers_sums_ops_and_keeps_peaks(self):
        m = layers.pass_layers([self.op(), self.op()])
        self.assertEqual(m["exec.tasks"], 12.0)
        self.assertEqual(m["exec.peak_exec_mem_mb"], 5.0)
        self.assertEqual(m["r8.rows_per_result"], 100.0)


if __name__ == "__main__":
    unittest.main()
