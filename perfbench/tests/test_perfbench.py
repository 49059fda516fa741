"""Tests of the benchmark's own parts (no Spark, no JVM).

Run: python3 -m unittest discover -s perfbench/tests
"""
import datetime
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class CanonicalFormTest(unittest.TestCase):
    def test_columns_sorted_by_name_and_rows_sorted(self):
        cols, rows = stats.canonical(["b", "a"], [(2, "y"), (1, "x")])
        self.assertEqual(cols, ["a", "b"])
        self.assertEqual(rows, [("x", 1), ("y", 2)])

    def test_equal_results_in_any_column_and_row_order(self):
        got = (["k", "v"], [(1, 10.5), (2, None)])
        want = (["v", "k"], [(None, 2), (10.5, 1)])
        self.assertIsNone(stats.compare("r", *got, *want))

    def test_null_equals_null_whatever_its_kind(self):
        self.assertIsNone(stats.compare("r", ["x"], [(None,)], ["x"], [(float("nan"),)]))

    def test_values_are_compared_exactly(self):
        p = stats.compare("r", ["x"], [(0.1 + 0.2,)], ["x"], [(0.3,)])
        self.assertIn("row 0 differs", p)

    def test_row_count_and_columns_are_checked(self):
        self.assertIn("rows", stats.compare("r", ["x"], [(1,), (1,)], ["x"], [(1,)]))
        self.assertIn("columns", stats.compare("r", ["x"], [(1,)], ["y"], [(1,)]))

    def test_timestamps_from_either_side_compare_equal(self):
        iso = "2024-01-01T00:00:11.172425"  # as the JVM writes it
        ts = datetime.datetime(2024, 1, 1, 0, 0, 11, 172425)  # as DuckDB returns it
        self.assertIsNone(stats.compare("r", ["t"], [(iso,)], ["t"], [(ts,)]))
        midnight = datetime.datetime(1995, 3, 1)
        self.assertIsNone(stats.compare("r", ["t"], [("1995-03-01T00:00:00",)], ["t"], [(midnight,)]))

    def test_integers_and_their_float_twins_compare_equal(self):
        self.assertIsNone(stats.compare("r", ["n"], [(5,)], ["n"], [(5.0,)]))


class OrderStatisticsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 90), 7)
        with self.assertRaises(ValueError):
            stats.percentile(xs, 0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = gen.tables(7, scale=0.001), gen.tables(7, scale=0.001)
        self.assertEqual(sorted(a), sorted(gen.tables(8, scale=0.001)))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a, c = gen.tables(7, scale=0.001), gen.tables(8, scale=0.001)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertFalse(a["documents"].equals(c["documents"]))

    def test_columns_have_the_fixture_types(self):
        t = gen.tables(1, scale=0.001)
        self.assertEqual(str(t["lineitem"].schema.field("l_linenumber").type), "int32")
        self.assertEqual(str(t["orders"].schema.field("o_orderdate").type), "timestamp[us]")
        self.assertEqual(str(t["embeddings"].schema.field("embedding").type.value_type), "float")
        self.assertEqual(t["region"].num_rows, 5)
        emb = t["embeddings"].column("embedding").to_pylist()[0]
        self.assertAlmostEqual(math.sqrt(sum(x * x for x in emb)), 1.0, places=5)


class FailureAccountingTest(unittest.TestCase):
    # records as the JVM writes them: a failed operation has no time
    OPS = [
        {"id": 1, "kind": "query", "name": "ok_a", "round": 0, "ok": True, "ms": 10.0, "rows": 5, "err": ""},
        {"id": 2, "kind": "query", "name": "boom", "round": 0, "ok": False, "ms": None, "rows": 0,
         "err": "deliberate failure"},
        {"id": 3, "kind": "query", "name": "ok_b", "round": 0, "ok": True, "ms": 30.0, "rows": 7, "err": ""},
    ]

    def test_failed_operation_is_counted_and_carries_no_time(self):
        attempted, failed, times = stats.account(self.OPS)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(times, [10.0, 30.0])

    def test_failed_operation_is_left_out_of_every_timing(self):
        rounds = [{"round": 0, "ms": 2000.0, "written_bytes": 1000000, "cpu_ms": 5000.0}]
        w = run.wall_figures(self.OPS, rounds)
        self.assertEqual(w["op_p50_ms"], 20.0)  # median of 10 and 30 only
        self.assertEqual(w["rows_per_s"], 6.0)  # 12 rows of the successful ops / 2 s
        m = layers.per_layer({"timed_start_ns": 0, "timed_end_ns": 1, "cpus": 4, "session_ms": 1.0,
                              "seed_ms": 1.0, "warm_ms": 1.0}, self.OPS, rounds, "/nonexistent")
        self.assertEqual(m["ops.op_p50_ms"]["value"], 20.0)

    def test_successful_operation_without_time_is_rejected(self):
        with self.assertRaises(ValueError):
            stats.account([dict(self.OPS[0], ms=None)])


if __name__ == "__main__":
    unittest.main()
