#!/usr/bin/env python3
"""Tests of the benchmark's own arithmetic: python3 perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_p50_p95_interpolate_between_order_statistics(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.p50(xs), 50.5)
        # inclusive method: position 0.95 * 99 = 94.05 -> 95 + 0.05 * (96 - 95)
        self.assertAlmostEqual(stats.p95(xs), 95.05)

    def test_single_sample_is_its_own_p95(self):
        self.assertEqual(stats.p95([3.0]), 3.0)

    def test_tail_rule_needs_ten_samples_beyond_p95(self):
        small = stats.tail([float(x) for x in range(40)])
        self.assertEqual(small["n"], 40)
        self.assertEqual(small["above_p95"], 2)  # p95 = 37.05; 38 and 39 lie above
        self.assertFalse(small["tail_ok"])
        big = stats.tail([float(x) for x in range(200)])
        self.assertEqual(big["above_p95"], 10)
        self.assertTrue(big["tail_ok"])


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once_and_self_times_add_up(self):
        spans = [("queries.build", 0, 4), ("exec.sink", 4, 10),
                 # two concurrent jobs in the sink, overlapping on [6, 7]
                 ("exec.job", 5, 7), ("exec.job", 6, 8),
                 # analysis inside the build, planning overlapping a job
                 ("catalyst.analysis", 1, 2), ("catalyst.planning", 4.5, 5.5)]
        s = stats.self_times(0, 11, spans)
        self.assertAlmostEqual(s["op"], 1)  # [10, 11]
        self.assertAlmostEqual(s["queries.build"], 3)
        self.assertAlmostEqual(s["catalyst.analysis"], 1)
        self.assertAlmostEqual(s["exec.job"], 3)  # union [5, 8]
        self.assertAlmostEqual(s["catalyst.planning"], 0.5)  # [5, 5.5] goes to the job
        self.assertAlmostEqual(s["exec.sink"], 2.5)  # 6 - 3 - 0.5
        self.assertAlmostEqual(sum(s.values()), 11)

    def test_children_are_clipped_to_the_operation(self):
        s = stats.self_times(10, 20, [("exec.job", 5, 12), ("exec.job", 19, 30)])
        self.assertEqual(s, {"op": 7, "exec.job": 3})

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)], 1, 5.5), 2.5)


class Failures(unittest.TestCase):
    def test_failed_ratio_counts_failures_over_attempts(self):
        self.assertEqual(stats.failed_ratio(40, 0), 0.0)
        self.assertEqual(stats.failed_ratio(40, 3), 0.075)
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)

    def test_wrong_expected_fingerprint_is_caught(self):
        observed = {"q_a": {"ok": True, "rows": 3, "fp": "00aa"},
                    "q_b": {"ok": True, "rows": 7, "fp": "11bb"}}
        self.assertEqual(stats.fingerprint_problems(
            {"q_a": {"rows": 3, "fp": "00aa"}, "q_b": {"rows": 7, "fp": "11bb"}}, observed), [])
        wrong = {"q_a": {"rows": 3, "fp": "00aa"}, "q_b": {"rows": 7, "fp": "ffff"}}
        problems = stats.fingerprint_problems(wrong, observed)
        self.assertEqual(len(problems), 1)
        self.assertIn("q_b", problems[0])

    def test_row_count_order_fingerprint_and_errors_are_checked(self):
        observed = {"q_rows": {"ok": True, "rows": 4, "fp": "aa"},
                    "q_order": {"ok": True, "rows": 2, "fp": "bb"},
                    "q_err": {"ok": False, "err": "boom"},
                    "q_new": {"ok": True, "rows": 1, "fp": "cc"}}
        expected = {"q_rows": {"rows": 5}, "q_order": {"rows": 2, "order_fp": "b0"},
                    "q_err": {"rows": 1}}
        names = [p.split(":")[0] for p in stats.fingerprint_problems(expected, observed)]
        self.assertEqual(names, ["q_err", "q_new", "q_order", "q_rows"])


class Strata(unittest.TestCase):
    def test_strata_group_similar_costs_up_to_the_size_cap_and_time_their_median(self):
        costs = {"a": 10.0, "b": 9.0, "c": 5.0, "d": 4.8, "e": 4.7, "f": 4.6, "g": 1.0}
        groups = stats.strata(costs, 3, 1.15)
        self.assertEqual(groups,
                         [["a", "b"], ["c", "d", "e"], ["f"], ["g"]])
        self.assertEqual(stats.representatives(groups), ["b", "d", "f", "g"])


class Coverage(unittest.TestCase):
    def test_drift_between_workloads_and_registry_fails(self):
        workloads = {"w1": {"queries": {"q_a": 1, "q_gone": 1}}, "w2": {"queries": {"q_b": 1}}}
        problems = run.coverage_problems(workloads, {"names": ["q_a", "q_b", "q_new"]})
        self.assertEqual(len(problems), 2)
        self.assertIn("q_gone", problems[0])
        self.assertIn("q_new", problems[1])
        self.assertEqual(run.coverage_problems(workloads, {"names": ["q_a", "q_b", "q_gone"]}), [])


if __name__ == "__main__":
    unittest.main()
