"""Tests of the benchmark's own Python: the JSON writer, the trace's self
times and the canonical rows. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The client's checker has its own self-test: python3 perfbench/run.py --selftest
"""
import json
import math
import unittest

import report
import workloads


def client(ops, spans=(), metric=None):
    return {"setup": [(9.0, 3.0)], "warm": [], "op": ops,
            "metric": dict({"heap_retained_mb": 120.0}, **(metric or {})),
            "span": list(spans), "host": {}}


def op(name, latency, status="ok", kind="sql", matched=0, expected=0):
    return {"name": name, "kind": kind, "latency_s": latency, "status": status,
            "rows": matched, "matched": matched, "expected": expected,
            "reason": "" if status == "ok" else "ERR boom"}


class JsonWriter(unittest.TestCase):
    def test_zero_successful_operations_still_give_valid_json(self):
        c = client([op("q01", 0.5, "fail"), op("q06", 0.25, "fail")])
        values = report.end_to_end(c)
        units = {k: "s" for k in values}
        line = report.dumps(report.result(False, 2, 2, values, units))
        parsed = json.loads(line)
        self.assertEqual(parsed["failed"], parsed["attempted"])
        self.assertFalse(parsed["correct"])
        self.assertEqual(parsed["metrics"]["wall_s"]["value"], 0.75)
        self.assertEqual(parsed["metrics"]["setup_s"]["value"], 9.0)

    def test_keys_are_escaped(self):
        line = report.dumps({'we"ird\\key\n': 1})
        self.assertEqual(json.loads(line), {'we"ird\\key\n': 1})

    def test_non_finite_numbers_are_refused(self):
        for bad in [math.nan, math.inf]:
            with self.assertRaises(ValueError):
                report.dumps({"metrics": {"x": {"value": bad}}})


class Median(unittest.TestCase):
    def test_hd_median_of_symmetric_values_is_the_middle(self):
        self.assertAlmostEqual(report.hd_median([3.0, 1.0, 2.0]), 2.0)
        self.assertAlmostEqual(report.hd_median([5.0]), 5.0)
        self.assertAlmostEqual(report.hd_median([1.0, 2.0, 4.0, 5.0]), 3.0)

    def test_hd_median_moves_smoothly_across_a_gap(self):
        # the sample median jumps from 0.6 to 0.9 when one value crosses
        # the gap; the estimate moves by a fraction of that
        low = [0.2, 0.3, 0.5, 0.5, 0.55, 0.6, 0.6, 0.62, 0.9, 1.0, 1.0, 1.1, 1.2, 1.3, 2.7]
        high = sorted(low[:7] + [0.9] + low[8:])
        jump = high[7] - low[7]
        self.assertLess(report.hd_median(high) - report.hd_median(low), jump / 2)
        self.assertLess(min(low), report.hd_median(low))
        self.assertLess(report.hd_median(low), max(low))


class Trace(unittest.TestCase):
    MS = 1_000_000

    def test_self_time_is_span_minus_covered_children(self):
        ms = self.MS
        spans = [("0:q", "op", 0, 100 * ms),
                 ("0:q", "engine.build", 10 * ms, 40 * ms),
                 ("0:q", "catalyst.parse", 12 * ms, 20 * ms),
                 ("0:q", "execute", 40 * ms, 95 * ms),
                 ("0:q", "spark.job", 50 * ms, 90 * ms),
                 ("0:q", "spark.stage", 55 * ms, 70 * ms),
                 ("0:q", "spark.stage", 65 * ms, 85 * ms)]
        tree = report.span_tree(spans)
        by_layer = {n["layer"]: n for n in tree}
        self.assertEqual(by_layer["op"]["self_ns"], 100 * ms - 30 * ms - 55 * ms)
        self.assertEqual(by_layer["engine.build"]["self_ns"], 22 * ms)
        self.assertEqual(by_layer["execute"]["self_ns"], 15 * ms)
        # the two stages overlap: covered time is their union, 30 ms
        self.assertEqual(by_layer["spark.job"]["self_ns"], 10 * ms)
        self.assertEqual(tree[2]["parent"], 1)
        self.assertEqual(tree[6]["parent"], 4)

    def test_streaming_jobs_belong_to_the_running_operation(self):
        ms = self.MS
        spans = [("3:st01", "op", 0, 100 * ms), ("3:st01", "ops.call", 0, 90 * ms),
                 ("run-7f3a", "spark.job", 10 * ms, 30 * ms)]
        job = report.span_tree(spans)[2]
        self.assertEqual(job["op"], "3:st01")
        self.assertEqual(job["parent"], 1)

    def test_every_per_layer_metric_is_reported(self):
        ms = self.MS
        c = client([op("0:q", 0.1)], spans=[("0:q", "op", 0, 100 * ms),
                                            ("0:q", "spark.job", 10 * ms, 60 * ms)],
                   metric={"trace.cost_s": 0.001, "spark.task_run_s": 0.1, "cores": 4})
        names = ["spark.idle_share", "trace.overhead_share", "ops.pair_yield",
                 "tables.register_s", "ops.dedup_recall"]
        values, _ = report.per_layer(c, names)
        self.assertEqual(sorted(values), sorted(names))
        self.assertAlmostEqual(values["spark.idle_share"], 0.5)
        self.assertAlmostEqual(values["trace.overhead_share"], 0.001 / 0.099)
        self.assertEqual(values["ops.pair_yield"], 0.0)
        self.assertEqual(values["tables.register_s"], 3.0)

    def test_dedup_recall_is_pairs_found_over_all_exact_pairs(self):
        ms = self.MS
        c = client([op("0:d02x_minhash", 0.1, kind="dedup", matched=256, expected=256),
                    op("1:d07x_embedding", 0.1, "fail", kind="dedup", matched=100,
                       expected=250)],
                   spans=[("0:d02x_minhash", "op", 0, 100 * ms),
                          ("0:d02x_minhash", "ops.call", 0, 20 * ms)],
                   metric={"trace.cost_s": 0.001})
        values, _ = report.per_layer(c, ["ops.dedup_recall", "ops.call_s"])
        self.assertAlmostEqual(values["ops.dedup_recall"], 356 / 506)
        self.assertAlmostEqual(values["ops.call_s"], 0.02)


class CanonicalRows(unittest.TestCase):
    def test_columns_by_lower_cased_name_and_rows_sorted(self):
        rows = workloads.canon_rows(["b", "A"], [(2, 0.5), (1, None), (3, True)])
        self.assertEqual(rows, ["1\x013", "5.000000e-01\x012", "NULL\x011"])

    def test_plans_are_reproducible_from_the_seed(self):
        a = workloads.olap_params(workloads.random.Random("olap_sql:7"))
        b = workloads.olap_params(workloads.random.Random("olap_sql:7"))
        c = workloads.olap_params(workloads.random.Random("olap_sql:8"))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
