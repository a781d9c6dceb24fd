"""Tests of the benchmark's own logic (not of the engine).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
sys.path.insert(0, PERFBENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(PERFBENCH), "BENCHMARK.json")))


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail(range(1, 101)), (90.0, 90, 100))
        self.assertEqual(stats.tail(range(1, 1001)), (99.0, 990, 1000))
        self.assertEqual(stats.tail(range(1, 10001))[:2], (99.9, 9990))

    def test_smallest_sample_with_a_tail(self):
        self.assertEqual(stats.tail(range(20)), (50.0, 9, 20))
        self.assertEqual(stats.tail(range(19)), (None, None, 19))
        self.assertEqual(stats.tail([]), (None, None, 0))

    def test_order_does_not_matter(self):
        vals = [5, 1, 9, 3] * 10
        self.assertEqual(stats.tail(vals), stats.tail(sorted(vals)))

    def test_run_record_states_the_tail_or_its_absence(self):
        few = [{"trigger_ms": 1000.0 * i} for i in range(9)]
        many = [{"trigger_ms": 1000.0 * i} for i in range(40)]
        self.assertEqual(run.batch_tail(few), {"pct": None, "value_s": None, "batches": 9})
        self.assertEqual(run.batch_tail(many), {"pct": 75.0, "value_s": 29.0, "batches": 40})


class FailureAccounting(unittest.TestCase):
    def test_throwing_query_is_failed_and_missing(self):
        calls = [{"pass": p, "name": q} for p in range(3) for q in ("a", "b")]
        failures = [{"pass": 1, "call": "b", "error": "boom"}]
        checks_ = [{"name": "oracle:a", "pass": 0, "ok": True}]
        attempted, failed, bad = stats.accounting(calls, failures, checks_, [])
        self.assertEqual((attempted, failed, bad), (7, 1, [1]))
        # the pass with the failed call has no valid time
        self.assertEqual(stats.pass_times([10.0, 1.0, 6.0], bad), (10.0, 6.0))

    def test_failed_check_and_batches_count(self):
        checks_ = [{"ok": False}, {"ok": True}]
        batches = [{"input_rows": 1}] * 3
        self.assertEqual(stats.accounting([{"pass": 0}], [], checks_, batches),
                         (6, 1, []))

    def test_all_passes_failed_keeps_raw_times(self):
        self.assertEqual(stats.pass_times([10.0, 4.0], [0, 1]), (10.0, 4.0))


class MetricNames(unittest.TestCase):
    def test_declared_names_and_units(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["name"], stats.NAME_RE)
            self.assertRegex(m["unit"], stats.UNIT_RE)
        for w in SPEC["workloads"]:
            self.assertRegex(w["name"], stats.NAME_RE)
            self.assertIn(w["name"], run.WORKLOADS)

    def test_bad_name_or_value_is_refused(self):
        for bad in ("_x", "a b", "x" * 65, "é"):
            with self.assertRaises(ValueError):
                stats.result_line(True, 1, 0, {bad: (1.0, "s")})
        with self.assertRaises(ValueError):
            stats.result_line(True, 1, 0, {"x": (1.0, "bad unit")})
        with self.assertRaises(ValueError):
            stats.result_line(True, 1, 0, {"x": (float("nan"), "s")})
        with self.assertRaises(ValueError):
            stats.result_line(True, 0, 0, {"x": (1.0, "s")})


class OutputLine(unittest.TestCase):
    def test_parses_with_exactly_the_contract_keys(self):
        line = stats.result_line(False, 12, 1, {"setup_s": (9.123456789, "s"),
                                                "cold_s": (20, "s")})
        out = json.loads(line)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(out["metrics"]["setup_s"], {"value": 9.123456789, "unit": "s"})
        self.assertIsInstance(out["attempted"], int)
        self.assertIs(out["correct"], False)

    def test_trace_line_holds_every_per_layer_metric(self):
        rec = {"layers": {m["name"]: 1.0 for m in SPEC["per_layer"]},
               "batches": [{"trigger_ms": 1000.0 + i} for i in range(25)],
               "session_start_s": 7.0}
        e2e = {m["name"]: 2.0 for m in SPEC["end_to_end"]}
        m = run.metric_values(run.per_layer(rec, e2e), SPEC["per_layer"])
        self.assertEqual(list(m), [x["name"] for x in SPEC["per_layer"]])
        self.assertEqual(m["stream.batch_p50_s"][0], 1.012)
        json.loads(stats.result_line(True, 1, 0, m))


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_tables_other_seed_same_shape(self):
        a, b, c = gen.sf_tables(3), gen.sf_tables(3), gen.sf_tables(4)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
            self.assertEqual(a[name].schema, c[name].schema, name)
            self.assertEqual(a[name].num_rows, c[name].num_rows, name)
        self.assertFalse(a["events"].equals(c["events"]))

    def test_klines_are_gapless_and_seeded(self):
        first, n = gen.kline_months()[0][1], 7200
        t, u = gen.kline_table(first, n, 1), gen.kline_table(first, n, 2)
        ot = t.column("open_time").to_numpy()
        self.assertTrue(((ot[1:] - ot[:-1]) == 1000).all())
        o, c = t.column("open").to_numpy(), t.column("close").to_numpy()
        self.assertTrue((o[1:] == c[:-1]).all())  # open(t+1) = close(t)
        self.assertTrue((t.column("high").to_numpy() >= o).all())
        self.assertFalse(t.column("close").equals(u.column("close")))
        months = gen.kline_months()
        self.assertEqual(sum(m[2] for m in months), gen.kline_rows())
        self.assertTrue(all(m[2] % 3600 == 0 for m in months))


class BarCheck(unittest.TestCase):
    def test_oracle_bars_match_themselves_and_catch_a_change(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_klines(d, 5)
            want = checks.oracle_bars(d, gen.KLINE_SYMBOL)
            self.assertEqual(len(want), gen.kline_rows() // 3600)
            self.assertTrue(checks.same_bars(list(want), want)[0])
            bad = list(want)
            bad[3] = bad[3][:2] + (bad[3][2] + 0.01,) + bad[3][3:]
            self.assertFalse(checks.same_bars(bad, want)[0])


if __name__ == "__main__":
    unittest.main()
