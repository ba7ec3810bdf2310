#!/usr/bin/env python3
"""Self-test of the harness's own logic (no JVM, no engine).

Usage: python3 benchkit/selftest.py

Covers the tail-percentile rule, failure counting, and that a wrong digest
or a wrong stream row fails the run.
"""
import datetime as dt
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402


def batch_run(run_dir, answers):
    """A fake harness result whose ops wrote `answers` (query -> value,
    None for a failed op) as parquet under `run_dir`."""
    ops = []
    for i, (q, v) in enumerate(answers):
        ops.append({"q": q, "pass": 0, "phase": "timed", "ms": 100.0 + i, "build_ms": 1.0,
                    "ok": v is not None, "err": None if v is not None else "boom"})
        if v is not None:
            d = os.path.join(run_dir, "out", "timed0", q)
            os.makedirs(d, exist_ok=True)
            pq.write_table(pa.table({"v": [v]}), os.path.join(d, "part-0.parquet"))
    return {"ops": ops, "timed_pass_ms": [sum(o["ms"] for o in ops)], "first_timed_ms": 5000.0,
            "setup_work_cpu_ms": 3000.0, "timed_work_cpu_ms": 8000.0, "peak_rss_kb": 4096 * 1024}


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_ops_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(check.percentile(xs, 90), 90)
        with self.assertRaises(ValueError):
            check.percentile(xs, 95)

    def test_p75_refused_below_forty_ops(self):
        self.assertEqual(check.percentile(list(range(40)), 75), 29)
        with self.assertRaises(ValueError):
            check.percentile(list(range(39)), 75)

    def test_tail_is_the_highest_percentile_the_op_count_allows(self):
        self.assertEqual(check.tail_percentile(100), 90)
        self.assertEqual(check.tail_percentile(28), 64)
        self.assertEqual(check.tail_percentile(30), 66)
        for n in range(11, 300):
            p = check.tail_percentile(n)
            check.percentile(list(range(n)), p)
            with self.assertRaises(ValueError):
                check.percentile(list(range(n)), p + 1)
        with self.assertRaises(ValueError):
            check.tail_percentile(10)

    def test_percentile_is_over_individual_ops(self):
        self.assertEqual(check.percentile([5.0] * 10 + [1.0] * 11, 50), 1.0)


class BatchChecks(unittest.TestCase):
    expected = {f"q{i}": {"digest": check.table_digest(pa.table({"v": [i]})), "rows": 10}
                for i in range(40)}

    def run_eval(self, answers):
        with tempfile.TemporaryDirectory() as d:
            return check.evaluate("catalog-write", batch_run(d, answers), 1000.0,
                                  self.expected, d, False)

    def right(self):
        return [(f"q{i}", i) for i in range(40)]

    def test_all_right(self):
        out = self.run_eval(self.right())
        self.assertTrue(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (40, 0))
        m, wall = out["metrics"], out["wall"]
        self.assertEqual(set(m), set(check.END_TO_END))
        self.assertAlmostEqual(m["setup_s"]["value"], 3.0)
        self.assertAlmostEqual(m["rows_per_cpu_s"]["value"], 400 / 8.0)
        self.assertAlmostEqual(m["cpu_ms_per_op"]["value"], 8000.0 / 40)
        self.assertEqual(set(wall), set(check.WALL))
        self.assertAlmostEqual(wall["setup_s"]["value"], 4.0)

    def test_wrong_answer_fails_the_run(self):
        ds = self.right()
        ds[3] = ("q3", 999)
        out = self.run_eval(ds)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)

    def test_failed_and_unknown_ops_are_counted(self):
        ds = self.right()
        ds[0] = ("q0", None)
        ds[1] = ("nope", 1)
        out = self.run_eval(ds)
        self.assertEqual(out["failed"], 2)

    def test_parquet_digest_is_order_free_and_value_exact(self):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"a": [1, 2], "x": [0.1 + 0.2, 3.0]}), f"{d}/p.parquet")
            one = check.parquet_digest(d)
            pq.write_table(pa.table({"a": [2, 1], "x": [3.0, 0.3]}), f"{d}/p.parquet")
            self.assertEqual(one, check.parquet_digest(d))
            pq.write_table(pa.table({"a": [2, 1], "x": [3.0, 0.31]}), f"{d}/p.parquet")
            self.assertNotEqual(one, check.parquet_digest(d))


class StreamChecks(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.work = self.tmp.name
        t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        self.ledger = [{"ticketId": str(i), "customerid": "c", "eventid": "e",
                        "confirmationStatus": "CONFIRMED", "remaining": float(9 - i)} for i in range(3)]
        self.topk = [{"key": "7", "top": [{"id": "1", "count": 2}]}]
        self.rollup = [{"window_start": t0, "event_type": "view", "n": 3, "sum_value": 1.5}]
        self.arrivals = {"event": {0: "f0", 1: "f0", 2: "f1"},
                         "last": {("user", 7): "f1", ("window", 1704067200000, "view"): "f1"}}

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, side, name, rows, batch=None):
        d = os.path.join(self.work, "timed", side, name)
        if batch is not None:
            d = os.path.join(d, f"batch_id={batch}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, "part-0.parquet"))

    def check(self):
        return check.check_stream(self.work, "timed", 1704067200000 + 3_600_000, self.arrivals)

    def write_all(self, ledger):
        self.write("out", "ledger", ledger, 0)
        self.write("ref", "ledger", self.ledger)
        for side, b in (("out", 0), ("ref", None)):
            self.write(side, "topk", self.topk, b)
            self.write(side, "rollup", self.rollup, b)

    def test_matching_outputs_pass(self):
        self.write_all(self.ledger)
        bad, msgs = self.check()
        self.assertEqual((bad, msgs), (set(), []))

    def test_wrong_stream_row_fails_its_file(self):
        wrong = [dict(r) for r in self.ledger]
        wrong[2]["confirmationStatus"] = "REJECTED"
        self.write_all(wrong)
        bad, msgs = self.check()
        self.assertEqual(bad, {"f1"})
        self.assertEqual(len(msgs), 1)

    def test_missing_window_fails(self):
        self.write_all(self.ledger)
        self.write("out", "rollup", [dict(self.rollup[0], n=2)], 0)
        bad, _ = self.check()
        self.assertEqual(bad, {"f1"})


if __name__ == "__main__":
    unittest.main()
