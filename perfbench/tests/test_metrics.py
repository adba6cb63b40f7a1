"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import metrics as M  # noqa: E402


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_above(self):
        xs = list(range(1, 101))  # 100 samples
        value, pct, n = M.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)  # p90: samples 91..100 lie above it
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(M.tail([5, 1, 4, 2, 3] * 10), M.tail(sorted([5, 1, 4, 2, 3] * 10)))

    def test_small_sample_falls_back_to_median(self):
        xs = [3.0, 1.0, 2.0, 10.0, 4.0]
        self.assertEqual(M.tail(xs), (3.0, 50.0, 5))

    def test_smallest_sample_with_a_tail_above_median(self):
        xs = list(range(21))
        value, pct, _ = M.tail(xs)
        self.assertEqual(value, 10)
        self.assertGreaterEqual(pct, 50.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_empty(self):
        self.assertEqual(M.tail([]), (None, None, 0))


class FailedShareTest(unittest.TestCase):
    def test_share(self):
        self.assertEqual(M.failed_share(200, 0), 0.0)
        self.assertEqual(M.failed_share(200, 5), 0.025)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            M.failed_share(0, 0)


class UnionTest(unittest.TestCase):
    def test_overlapping_and_disjoint(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(M.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_window(self):
        self.assertEqual(M.union_length([(-5, 5), (8, 30)], 0, 10), 7)

    def test_driver_gap(self):
        # op 100..200 ms; jobs cover 110..140 and 130..160 and one outside
        self.assertEqual(M.driver_gap(100, 200, [(110, 140), (130, 160), (300, 400)]), 50)

    def test_driver_gap_without_jobs(self):
        self.assertEqual(M.driver_gap(0, 40, []), 40)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "start_ns": s, "end_ns": e}

    def test_span_minus_covered_children(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40), self.span(2, 0, 30, 60),
                 self.span(3, 1, 15, 20)]
        st = M.self_times(spans)
        self.assertEqual(st[0], 100 - 50)  # children cover 10..60
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)

    def test_layer_table_sums_by_name(self):
        spans = [self.span(0, -1, 0, 2_000_000), self.span(1, 0, 0, 1_000_000)]
        spans[0]["name"], spans[1]["name"] = "op", "GraftTable.append"
        t = layers.layer_table(spans)
        self.assertEqual(t["op"], {"n": 1, "total_ms": 2.0, "self_ms": 1.0})
        self.assertEqual(t["GraftTable.append"]["self_ms"], 1.0)


class RatioTest(unittest.TestCase):
    def test_bytes_per_user_byte(self):
        self.assertEqual(M.ratio(6600, 660), 10.0)

    def test_empty_base_gives_no_metric(self):
        self.assertIsNone(M.ratio(10, 0))


class EndToEndTest(unittest.TestCase):
    def op(self, i, cls, ms):
        return {"id": i, "cls": cls, "ms": ms}

    def test_only_the_timed_window_counts(self):
        import run
        ops = [self.op(0, "untimed", 5000.0),  # warm-up
               self.op(1, "read", 100.0), self.op(2, "write", 300.0),
               self.op(3, "maint", 600.0), self.op(4, "read", 200.0),
               self.op(5, "maint", 50.0)]  # final vacuum, after the window
        res = {"ops": ops,
               "info": {"loop_start_op": 1, "loop_end_op": 5, "cycles": 1, "setup_seconds": 6.0,
                        "bytes_written": 5000, "user_bytes": 500}}
        values, _ = run.e2e_metrics(res, 1.5)
        self.assertEqual(values["setup_s"], 1.5 + 6.0)  # session start + set-up and warm-up
        self.assertEqual(values["ops_per_s"], 4 / 1.2)  # 4 ops in 1.2 s of op time
        self.assertEqual(values["read_p50_ms"], 150.0)
        self.assertEqual(values["write_p50_ms"], 300.0)
        self.assertEqual(values["maintenance_s"], 0.65)  # loop maintenance + vacuum
        self.assertEqual(values["bytes_written_per_user_byte"], 10.0)


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match_the_code(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(layers.E2E_UNITS))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, layers.E2E_UNITS)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         layers.spec())


if __name__ == "__main__":
    unittest.main()
