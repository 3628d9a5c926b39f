"""Unit tests for the benchmark's metric rules.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import report  # noqa: E402


class TailRule(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        values = list(range(1, 101))  # 1..100
        value, pct, beyond, n = metrics.tail(values)
        self.assertEqual(value, 90)
        self.assertEqual(beyond, 10)
        self.assertEqual(n, 100)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for v in values if v > value), 10)

    def test_order_does_not_matter(self):
        values = [5.0, 1.0, 4.0, 3.0, 2.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(metrics.tail(values)[0], 2.0)
        self.assertEqual(metrics.tail(list(reversed(values)))[0], 2.0)

    def test_smallest_sample_count_with_a_tail(self):
        value, pct, beyond, n = metrics.tail(list(range(11)))
        self.assertEqual((value, beyond, n), (0, 10, 11))

    def test_too_few_samples_fall_back_to_median(self):
        value, pct, beyond, n = metrics.tail([3.0, 1.0, 2.0])
        self.assertEqual((value, pct, n), (2.0, 50.0, 3))


def _query_raw(digests, rows=5):
    ops = [{"pass": p, "index": i, "name": name, "group": "relational",
            "start_ms": 1000.0 * i, "end_ms": 1000.0 * i + 500, "ok": ok,
            "error": "" if ok else "boom", "rows": rows, "digest": d}
           for i, (p, name, d, ok) in enumerate(digests)]
    return {"ops": ops, "workload_extra": {"oracle_sql": {}}}


class FailFrac(unittest.TestCase):
    def test_counts_throws_and_wrong_outputs(self):
        raw = _query_raw([
            (0, "q1", "aaa", True),
            (0, "q2", "bbb", True),
            (1, "q1", "aaa", True),
            (1, "q2", "XXX", True),   # wrong output: differs from pass 0
            (2, "q1", "", False),     # threw
            (2, "q2", "bbb", True),
        ])
        with tempfile.TemporaryDirectory() as d:
            verdicts = report.check("lake_sql", raw, d, d, {})
        ops = [dict(o, ok=v[0]) for o, v in zip(raw["ops"], verdicts)]
        self.assertEqual([o["ok"] for o in ops], [True, True, True, False, False, True])
        self.assertAlmostEqual(metrics.fail_frac(ops), 2 / 6)

    def test_empty_result_without_oracle_fails(self):
        raw = _query_raw([(0, "x8", "e3b0", True)], rows=0)
        with tempfile.TemporaryDirectory() as d:
            verdicts = report.check("corpus_curation", raw, d, d, {})
        self.assertFalse(verdicts[0][0])

    def test_no_operations_is_all_failed(self):
        self.assertEqual(metrics.fail_frac([]), 1.0)


class SelfTime(unittest.TestCase):
    def test_parent_minus_children(self):
        spans = [
            {"id": "op", "parent": None, "start": 0.0, "end": 100.0},
            {"id": "a", "parent": "op", "start": 10.0, "end": 40.0},
            {"id": "b", "parent": "op", "start": 30.0, "end": 50.0},  # overlaps a
            {"id": "j", "parent": "a", "start": 15.0, "end": 25.0},
            {"id": "late", "parent": "b", "start": 45.0, "end": 70.0},  # runs past b
        ]
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s["op"], 100 - 40)   # a and b cover 10..50
        self.assertAlmostEqual(s["a"], 30 - 10)
        self.assertAlmostEqual(s["b"], 20 - 5)      # only 45..50 lies inside b
        self.assertAlmostEqual(s["j"], 10)
        self.assertAlmostEqual(s["late"], 25)

    def test_union_and_owner(self):
        self.assertAlmostEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        windows = [(0, 10), (20, 30)]
        self.assertEqual(metrics.owner(windows, 25), 1)
        self.assertIsNone(metrics.owner(windows, 15))


class MetricNames(unittest.TestCase):
    def test_printed_names_match_benchmark_json(self):
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], report.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], report.LAYER)
        import run
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
