"""Tests of the benchmark's own logic (perfbench/lib.py).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import lib  # noqa: E402


class TailTest(unittest.TestCase):
    def test_eleventh_largest_with_its_percentile(self):
        value, pct, above = lib.tail(list(range(1, 101)))
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(above, 10)

    def test_order_of_input_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(lib.tail(xs), lib.tail(sorted(xs)))
        self.assertEqual(lib.tail(xs)[0], 2.0)

    def test_too_few_samples_falls_back_to_the_maximum(self):
        self.assertEqual(lib.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(lib.tail([float(i) for i in range(10)]), (9.0, 100.0, 0))

    def test_exactly_beyond_plus_one_samples(self):
        value, pct, above = lib.tail([float(i) for i in range(11)])
        self.assertEqual((value, above), (0.0, 10))


class StatsTest(unittest.TestCase):
    def test_geomean_weights_entries_equally(self):
        samples = [("a", 1.0), ("a", 1.0), ("a", 1.0), ("b", 100.0)]
        self.assertAlmostEqual(lib.per_entry_geomean(samples), 10.0)

    def test_steal_share(self):
        j0 = [0, 0, 0, 0, 0, 0, 0, 0]
        j1 = [40, 0, 10, 40, 0, 0, 0, 10]
        self.assertAlmostEqual(lib.steal_pct(j0, j1), 10.0)
        self.assertIsNone(lib.steal_pct([], j1))


class OrderTest(unittest.TestCase):
    entries = [f"e{i}" for i in range(20)]

    def test_same_seed_same_orders(self):
        a = lib.pass_orders(self.entries, "w", 7, 5)
        b = lib.pass_orders(self.entries, "w", 7, 5)
        self.assertEqual(a, b)

    def test_each_pass_is_a_permutation(self):
        for order in lib.pass_orders(self.entries, "w", 3, 6):
            self.assertEqual(sorted(order), sorted(self.entries))

    def test_checked_pass_ignores_the_seed(self):
        a = lib.pass_orders(self.entries, "w", 1, 3)
        b = lib.pass_orders(self.entries, "w", 2, 3)
        self.assertEqual(a[0], self.entries)
        self.assertEqual(a[0], b[0])
        self.assertNotEqual(a[1:], b[1:])

    def test_passes_differ_from_each_other(self):
        orders = lib.pass_orders(self.entries, "w", 1, 4)
        self.assertEqual(len({tuple(o) for o in orders[1:]}), 3)


class CompareTest(unittest.TestCase):
    ref = {"columns": ["k", "v"], "rows": [[1, 0.1], [2, 1e6 / 3], [3, None], [4, "x"]]}

    def test_equal_in_any_row_order(self):
        got = {"columns": ["k", "v"], "rows": list(reversed(self.ref["rows"]))}
        self.assertIsNone(lib.compare(got, self.ref))

    def test_double_drift_passes(self):
        got = {"columns": ["k", "v"],
               "rows": [[1, 0.1 * (1 + 1e-12)], [2, 1e6 / 3 * (1 - 1e-12)], [3, None], [4, "x"]]}
        self.assertIsNone(lib.compare(got, self.ref))

    def test_dropped_row_fails(self):
        got = {"columns": ["k", "v"], "rows": self.ref["rows"][:-1]}
        self.assertIn("rows 3 != 4", lib.compare(got, self.ref))

    def test_changed_value_fails(self):
        got = {"columns": ["k", "v"], "rows": [[1, 0.1], [2, 1e6 / 3 + 1e-3], [3, None], [4, "x"]]}
        self.assertIsNotNone(lib.compare(got, self.ref))

    def test_null_is_not_zero(self):
        got = {"columns": ["k", "v"], "rows": [[1, 0.1], [2, 1e6 / 3], [3, 0], [4, "x"]]}
        self.assertIsNotNone(lib.compare(got, self.ref))

    def test_renamed_column_fails(self):
        got = {"columns": ["k", "w"], "rows": self.ref["rows"]}
        self.assertIn("columns", lib.compare(got, self.ref))

    def test_nested_values(self):
        ref = {"columns": ["a"], "rows": [[[1.0, [2.0, "s"]]]]}
        got = {"columns": ["a"], "rows": [[[1.0 + 1e-13, [2.0, "s"]]]]}
        self.assertIsNone(lib.compare(got, ref))
        bad = {"columns": ["a"], "rows": [[[1.0, [2.0, "t"]]]]}
        self.assertIsNotNone(lib.compare(bad, ref))


class SpansTest(unittest.TestCase):
    # one query from 1000 to 2000 ms: a parse, an analysis with a
    # planning job inside it, an optimization, then two stages of one job
    trace = {
        "t0": 1000, "t1": 2000, "phase": "traced", "pass": 1, "entry": "q",
        "phases": [["sql.parse", 1000, 1050], ["plans.analyze", 1050, 1200],
                   ["plans.optimize", 1200, 1300], ["plans.physical", 1300, 1350]],
        "jobs": [[1, 1100, 1150, [10]], [2, 1400, 1900, [11, 12]]],
        "tasks": [[10, 1105, 1140], [11, 1410, 1600], [11, 1420, 1650],
                  [12, 1640, 1800], [12, 1700, 1850]],
    }

    def self_times(self, trace):
        return {s["span"]: s["self_ms"] for s in lib.spans(trace)}

    def test_self_times_sum_to_wall(self):
        sp = lib.spans(self.trace)
        self.assertEqual(sum(s["self_ms"] for s in sp), 1000)

    def test_exclusive_attribution(self):
        st = self.self_times(self.trace)
        self.assertEqual(st["sql.parse"], 50)
        self.assertEqual(st["plans.analyze"], 150)  # its planning job included
        self.assertEqual(st["plans.optimize"], 100)
        self.assertEqual(st["plans.physical"], 50)
        self.assertEqual(st["stage:11"], 240)  # 1410-1650
        self.assertEqual(st["stage:12"], 200)  # 1650-1850, overlap goes to stage 11
        self.assertEqual(st["job:2"], 10 + 50)  # no task running: 1400-1410, 1850-1900
        self.assertEqual(st["job:1"], 0)  # inside analysis
        self.assertEqual(st["exec"], 50)  # 1350-1400: between jobs, no phase open
        self.assertEqual(st["query"], 100)  # 1900-2000: after the last job

    def test_tree_shape(self):
        parents = {s["span"]: s["parent"] for s in lib.spans(self.trace)}
        self.assertIsNone(parents["query"])
        self.assertEqual(parents["plans.optimize"], "query")
        self.assertEqual(parents["exec"], "query")
        self.assertEqual(parents["job:2"], "exec")
        self.assertEqual(parents["stage:12"], "job:2")

    def test_query_with_no_jobs(self):
        tr = {"t0": 0, "t1": 10, "phases": [["sql.parse", 0, 4]], "jobs": [], "tasks": []}
        self.assertEqual(self.self_times(tr), {"query": 6, "sql.parse": 4})

    def test_events_outside_the_query_are_clipped(self):
        tr = {"t0": 100, "t1": 200, "phases": [["plans.analyze", 50, 120]],
              "jobs": [[3, 150, 260, [5]]], "tasks": [[5, 150, 250]]}
        sp = lib.spans(tr)
        self.assertEqual(sum(s["self_ms"] for s in sp), 100)
        self.assertEqual(self.self_times(tr)["stage:5"], 50)

    def test_per_layer_metrics_from_a_trace(self):
        tr = dict(self.trace, statements=1, rules=[2.0, 10, 4], scan=[500, 3.0])
        tr["tasks"] = [t + [100, 80, 5, 1000, 900, 2, 0, 4096, 500] for t in tr["tasks"]]
        ev = [dict(tr, ev="trace"), {"ev": "setup", "session_ms": 5.0, "analyze_ms": 7.0},
              {"ev": "warm", "ms": 900.0},
              {"ev": "window", "phase": "untraced", "execs": 10, "wall_ms": 1000.0},
              {"ev": "window", "phase": "traced", "execs": 9, "wall_ms": 1000.0}]
        m, sp, _ = lib.per_layer(ev, {"q": 5})
        self.assertEqual(m["sql.parse_ms"][0], 50)
        self.assertEqual(m["plans.planning_jobs"][0], 1)
        self.assertEqual(m["exec.jobs"][0], 2)
        self.assertEqual(m["exec.stages"][0], 3)
        self.assertEqual(m["exec.tasks"][0], 5)
        self.assertEqual(m["plans.graft_rules_effective_ratio"][0], 0.4)
        self.assertEqual(m["sources.rows_read_per_result_row"][0], 100)
        self.assertEqual(m["trace.self_time_gap_ms"][0], 0)
        # job intervals 1100-1150 and 1400-1900; tasks busy 1105-1140, 1410-1850
        self.assertEqual(m["exec.idle_ms"][0], (50 - 35) + (500 - 440))
        self.assertAlmostEqual(m["trace.overhead_pct"][0], 10.0)
        self.assertEqual(m["setup.warm_ms"][0], 900.0)
        self.assertEqual(m["setup.session_ms"][0], 5.0)

    def test_layer_shares_cover_the_wall_time(self):
        shares = lib.layer_shares(lib.spans(self.trace))
        self.assertLessEqual(set(shares), {"query", "sql", "plans", "exec"})
        self.assertIn("exec", shares)
        self.assertAlmostEqual(sum(shares.values()), 100.0, delta=0.3)


class SetupAndPassTest(unittest.TestCase):
    def test_setup_runs_from_jvm_start_to_the_end_of_warm_up(self):
        ev = [{"ev": "start", "at_ms": 1500, "boot_ms": 1500.0},
              {"ev": "setup", "at_ms": 6700, "session_ms": 5000.0, "analyze_ms": 200.0},
              {"ev": "warm", "at_ms": 32000, "ms": 25000.0},
              {"ev": "box", "at_ms": 32700, "when": "start"}]
        self.assertEqual(lib.setup_ms(ev), 32000.0)

    def test_pass_qps_from_running_totals(self):
        ev = [{"ev": "window", "phase": "untraced", "execs": 10, "wall_ms": 1000.0},
              {"ev": "window", "phase": "traced", "execs": 10, "wall_ms": 2000.0},
              {"ev": "window", "phase": "traced", "execs": 20, "wall_ms": 3000.0},
              {"ev": "window", "phase": "untraced", "execs": 20, "wall_ms": 3000.0}]
        self.assertEqual(lib.pass_qps(ev), {"untraced": [10.0, 5.0], "traced": [5.0, 10.0]})


if __name__ == "__main__":
    unittest.main()
