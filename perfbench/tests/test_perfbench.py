"""Unit tests of the benchmark's own rules. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import metrics  # noqa: E402

DOM = {"orders": [0, 149999], "events": [0, 99999], "customer": [0, 14999]}


def op(kind="lookup", ms=1.0, phase="timed", error=None, traced=False, **info):
    return {"kind": kind, "name": kind, "ms": ms, "phase": phase, "error": error,
            "traced": traced, "info": info, "spans": [], "scans": [], "commits": [], "digest": []}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(metrics.tail_rank(100), 0.9)
        self.assertEqual(metrics.tail_rank(200), 0.9)
        values = list(range(1, 101))
        p90 = metrics.tail(values)
        self.assertEqual(p90, 90)
        self.assertEqual(sum(v > p90 for v in values), 10)

    def test_fewer_samples_lower_the_percentile(self):
        self.assertAlmostEqual(metrics.tail_rank(50), 0.8)
        values = list(range(1, 51))
        self.assertEqual(metrics.tail(values), 40)
        self.assertEqual(sum(v > metrics.tail(values) for v in values), 10)

    def test_never_below_the_median(self):
        self.assertEqual(metrics.tail_rank(12), 0.5)
        self.assertEqual(metrics.tail([1, 2, 3, 100]), metrics.p50([1, 2, 3, 100]))
        self.assertIsNone(metrics.tail_rank(0))


class SelfTime(unittest.TestCase):
    def span(self, name, start, end, parent):
        return {"name": name, "start_ns": start * 1000000, "end_ns": end * 1000000, "parent": parent}

    def test_self_times_sum_to_the_root_wall(self):
        spans = [self.span("lookup", 0, 100, -1),
                 self.span("sqlext.resolve", 10, 40, 0),
                 self.span("scan.plan", 20, 25, 1),
                 self.span("spark.exec", 50, 90, 0),
                 self.span("spark.plan", 60, 70, 3)]
        st = dict(metrics.self_times(spans))
        self.assertEqual(st, {"lookup": 30.0, "sqlext.resolve": 25.0, "scan.plan": 5.0,
                              "spark.exec": 30.0, "spark.plan": 10.0})
        self.assertEqual(sum(st.values()), 100.0)

    def test_layer_of_a_span(self):
        self.assertEqual(layers._layer("scan.plan", "lookup"), "scan")
        self.assertEqual(layers._layer("lookup", "lookup"), "client")
        self.assertEqual(layers._layer("commands.scd1", "scd1"), "commands")

    def test_task_interval_union(self):
        self.assertEqual(layers._union_ms([(0, 10), (5, 20), (30, 40)], 0, 100), 30)
        self.assertEqual(layers._union_ms([(0, 10), (5, 20), (30, 40)], 8, 35), 17)
        self.assertEqual(layers._union_ms([], 0, 10), 0)


class ErrorCounting(unittest.TestCase):
    def test_raised_and_wrong_answers_both_count(self):
        ops = [op(), op(error="boom"), op(), op()]
        bad = metrics.failures(ops, wrong={2})
        self.assertEqual(bad, {1, 2})
        self.assertEqual(metrics.error_rate(len(ops), len(bad)), 0.5)
        self.assertEqual(metrics.error_rate(4, 0), 0.0)

    def test_a_failed_call_is_never_a_sample(self):
        ops = [op(ms=100.0, id=0), op(ms=100.0, id=1), op(ms=1.0, id=2), op(ms=1.0, id=3)]
        result = {"ops": ops, "jvm_boot_s": 0.1, "session_s": 1.0,
                  "workload": {"build_s": 2.0, "warmup_s": 3.0}}
        self.assertEqual(metrics.end_to_end("point_reads", result, set())["call_p50_ms"][0], 50.5)
        m = metrics.end_to_end("point_reads", result, {2, 3})
        self.assertEqual(m["call_p50_ms"][0], 100.0)
        self.assertEqual(m["call_mean_ms"][0], 100.0)
        self.assertAlmostEqual(m["setup_s"][0], 6.1)

    def test_a_cycle_with_a_failed_call_leaves_the_mean(self):
        n = gen.MIX_BLOCK
        ops = [op(ms=10.0, id=i) for i in range(n)] + [op(ms=20.0, id=n + i) for i in range(n)]
        result = {"ops": ops, "jvm_boot_s": 0.0, "session_s": 0.0,
                  "workload": {"build_s": 0.0, "warmup_s": 0.0}}
        self.assertEqual(metrics.end_to_end("point_reads", result, set())["call_mean_ms"][0], 15.0)
        self.assertEqual(metrics.end_to_end("point_reads", result, {0})["call_mean_ms"][0], 20.0)


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in gen.WORKLOADS:
            a = json.dumps(gen.inputs(w, 7, DOM), sort_keys=True)
            b = json.dumps(gen.inputs(w, 7, DOM), sort_keys=True)
            self.assertEqual(a, b, w)

    def test_other_seed_other_inputs(self):
        for w in gen.WORKLOADS:
            self.assertNotEqual(json.dumps(gen.inputs(w, 7, DOM), sort_keys=True),
                                json.dumps(gen.inputs(w, 8, DOM), sort_keys=True), w)

    def test_the_lookup_mix_is_exact_in_every_block(self):
        reqs = gen.inputs("point_reads", 3, DOM)["requests"]
        for b in range(0, 8 * gen.MIX_BLOCK, gen.MIX_BLOCK):
            block = reqs[b:b + gen.MIX_BLOCK]
            for table, path, tt, k in gen.MIX:
                self.assertEqual(sum(r["table"] == table and r["path"] == path
                                     and (r["ref"] is not None) == tt for r in block), k)
        self.assertEqual(sum(r["path"] == "sql" for r in reqs[:gen.MIX_BLOCK]) * 4, 3 * gen.MIX_BLOCK)


class BenchmarkFile(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_metric_names_match_what_the_run_prints(self):
        result = {"ops": [], "jvm_boot_s": 0.0, "session_s": 0.0,
                  "workload": {"build_s": 0.0, "warmup_s": 0.0}}
        printed = metrics.end_to_end("analytics", result, set())
        self.assertEqual([m["name"] for m in self.b["end_to_end"]], list(printed))
        self.assertEqual({m["name"]: m["unit"] for m in self.b["per_layer"]}, layers.names())

    def test_names_and_units_fit_the_format(self):
        names = [m["name"] for m in self.b["end_to_end"] + self.b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(self.b["per_layer"]), 128)
        for m in self.b["end_to_end"] + self.b["per_layer"]:
            self.assertRegex(m["name"], r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
            self.assertIn(m["better"], ("higher", "lower"))
        self.assertEqual([w["name"] for w in self.b["workloads"]], list(gen.WORKLOADS))
        self.assertTrue(re.fullmatch(r"[a-z]+", self.b["paths"][0]))


if __name__ == "__main__":
    unittest.main()
