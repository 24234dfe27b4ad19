"""Unit tests for the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import json
import unittest
from pathlib import Path

import metrics as M
import run


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # 19 samples: p50 leaves 9 beyond, so nothing qualifies
        self.assertIsNone(M.tail_percentile(list(range(19))))
        # 40 samples: p75 leaves exactly 10 beyond, p90 only 4
        self.assertEqual(M.tail_percentile(list(range(1, 41))), (75.0, 30))

    def test_picks_highest_qualifying(self):
        xs = list(range(1, 1001))
        # p99 leaves 10 beyond, p99.9 leaves 1
        self.assertEqual(M.tail_percentile(xs), (99.0, 990))
        self.assertEqual(M.tail_percentile(list(range(1, 201))), (95.0, 190))

    def test_nearest_rank(self):
        self.assertEqual(M.percentile([5, 1, 3], 50), (3, 1))
        self.assertEqual(M.percentile([1, 2, 3, 4], 100), (4, 0))

    def test_median(self):
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            M.median([])


class SelfTime(unittest.TestCase):
    def test_union_of_children(self):
        # children overlap: covered part is [2, 6] and [7, 8] -> 5 of 10
        self.assertEqual(M.self_time((0, 10), [(2, 5), (4, 6), (7, 8)]), 5)

    def test_children_clipped_to_span(self):
        self.assertEqual(M.self_time((0, 10), [(-5, 2), (9, 20)]), 7)
        self.assertEqual(M.self_time((0, 10), [(11, 12)]), 10)

    def test_no_children(self):
        self.assertEqual(M.self_time((3, 4.5), []), 1.5)

    def test_span_tree_self_times(self):
        spans = [
            {"id": 0, "parent": None, "kind": "run", "t0": 0, "t1": 10000},
            {"id": 1, "parent": 0, "kind": "operation", "t0": 1000, "t1": 9000},
            {"id": 2, "parent": 1, "kind": "phase", "t0": 1000, "t1": 5000},
            {"id": 3, "parent": 2, "kind": "job", "t0": 2000, "t1": 3000},
        ]
        self.assertEqual(run.self_times(spans),
                         {"run": 2.0, "operation": 4.0, "phase": 3.0, "job": 1.0})


class MemoStats(unittest.TestCase):
    def test_parses_every_accessor_shape(self):
        s = ("hit=16,miss=1,toks=14/1,sh=16/1,tf=3/2,bpe=0/0,clf=5/1,sc=2/0,"
             "ge=7/1,gn=1/1")
        self.assertEqual(M.parse_memo(s), (16 + 14 + 16 + 3 + 5 + 2 + 7 + 1,
                                           1 + 1 + 1 + 2 + 1 + 1 + 1))

    def test_bare_pair_and_empty(self):
        self.assertEqual(M.parse_memo("4/5"), (4, 5))
        self.assertEqual(M.parse_memo(""), (0, 0))

    def test_unknown_token_is_an_error(self):
        with self.assertRaises(ValueError):
            M.parse_memo("hit=1,oops")


class FailedFrac(unittest.TestCase):
    def test_exception_and_wrong_result_both_fail(self):
        ops = [
            {"kind": "query", "name": "a", "pass": 0, "error": None, "ok": True},
            {"kind": "query", "name": "b", "pass": 0, "error": "boom", "ok": True},
            {"kind": "query", "name": "c", "pass": 0, "error": None, "ok": False},
        ]
        attempted, failed, reasons = M.op_failures(
            ops, lambda op: None if op["ok"] else "wrong rows")
        self.assertEqual((attempted, failed), (3, 2))
        self.assertEqual(len(reasons), 2)
        self.assertAlmostEqual(M.failed_frac(attempted, failed), 2 / 3)

    def test_bounds(self):
        self.assertEqual(M.failed_frac(5, 0), 0.0)
        with self.assertRaises(ValueError):
            M.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            M.failed_frac(2, 3)


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_the_harness(self):
        b = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
