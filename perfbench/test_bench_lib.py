"""Tests of the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime as dt
import decimal
import unittest

import bench_lib


class PercentileTest(unittest.TestCase):
    def test_interpolated_and_sample_count(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(bench_lib.percentile(xs, 50), (3.0, 5))
        self.assertEqual(bench_lib.percentile(xs, 90), (4.6, 5))
        self.assertEqual(bench_lib.percentile(xs, 0), (1.0, 5))
        self.assertEqual(bench_lib.percentile(xs, 100), (5.0, 5))
        self.assertEqual(bench_lib.percentile([7.0], 50), (7.0, 1))

    def test_p90_of_a_hundred_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))
        value, n = bench_lib.percentile(xs, 90)
        self.assertEqual(n, 100)
        self.assertAlmostEqual(value, 90.1)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            bench_lib.percentile([], 50)

    def test_median(self):
        self.assertEqual(bench_lib.median([3, 1, 2]), 2)
        self.assertEqual(bench_lib.median([4, 1, 2, 3]), 2.5)


class ChecksumTest(unittest.TestCase):
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y"), (2, "y"), (None, "z")]

    def test_row_order_does_not_matter(self):
        a = bench_lib.checksum(self.cols, self.rows)
        b = bench_lib.checksum(self.cols, list(reversed(self.rows)))
        self.assertEqual(a, b)
        self.assertEqual(a[0], 4)

    def test_column_order_does_not_matter(self):
        swapped = [(r[1], r[0]) for r in self.rows]
        self.assertEqual(bench_lib.checksum(self.cols, self.rows),
                         bench_lib.checksum(["a", "b"], swapped))

    def test_duplicates_and_values_count(self):
        base = bench_lib.checksum(self.cols, self.rows)
        self.assertNotEqual(base, bench_lib.checksum(self.cols, self.rows[:3] + [(1, "x")]))
        self.assertNotEqual(base[1], bench_lib.checksum(self.cols, self.rows[1:] + [(1, "X")])[1])

    def test_column_types_count(self):
        base = bench_lib.checksum(self.cols, self.rows, ["BIGINT", "VARCHAR"])
        self.assertEqual(base, bench_lib.checksum(
            ["a", "b"], [(r[1], r[0]) for r in self.rows], ["VARCHAR", "BIGINT"]))
        # same values, another type: the check fails as the oracle compare does
        self.assertNotEqual(base, bench_lib.checksum(self.cols, self.rows, ["INTEGER", "VARCHAR"]))
        self.assertNotEqual(base, bench_lib.checksum(self.cols, self.rows, ["DOUBLE", "VARCHAR"]))
        self.assertNotEqual(base, bench_lib.checksum(self.cols, self.rows))

    def test_equal_numbers_share_one_form(self):
        canon = bench_lib.canon_value
        self.assertEqual(canon(decimal.Decimal("530.00")), canon(530.0))
        self.assertEqual(canon(530), "530")
        self.assertEqual(canon(-0.0), "0")
        self.assertEqual(canon(0.5), "0.5")
        # floats are written exactly, so neighbours stay distinct
        self.assertNotEqual(canon(0.1), canon(0.1 + 2 ** -56))
        self.assertEqual(canon(0.1), format(decimal.Decimal(0.1), "f"))

    def test_times_lists_and_maps(self):
        canon = bench_lib.canon_value
        self.assertEqual(canon(dt.datetime(1970, 1, 1, 0, 0, 1, 5)), "t1000005")
        self.assertEqual(canon(dt.date(1970, 1, 3)), "d2")
        self.assertEqual(canon([1, None, "a"]), "[1,N,sa]")
        self.assertEqual(canon({"key": ["b", "a"], "value": [2, 1]}), "M{sa=1,sb=2}")
        self.assertEqual(canon({"x": 1, "y": 2.5}), "{1,2.5}")


class AccountingTest(unittest.TestCase):
    expected = {"q1": (2, "aa"), "q2": (1, "bb")}

    def call(self, key, ms, rows, checksum, error=None):
        return {"key": key, "ms": ms, "rows": rows, "checksum": checksum, "error": error}

    def test_all_good(self):
        calls = [self.call("q1", 10.0, 2, "aa"), self.call("q2", 20.0, 1, "bb")]
        self.assertEqual(bench_lib.account(calls, self.expected), (2, 0, [10.0, 20.0]))

    def test_wrong_checksum_fails_and_leaves_the_samples(self):
        calls = [self.call("q1", 10.0, 2, "aa"), self.call("q2", 5.0, 1, "WRONG")]
        self.assertEqual(bench_lib.account(calls, self.expected), (2, 1, [10.0]))

    def test_wrong_expected_checksum_fails(self):
        calls = [self.call("q1", 10.0, 2, "aa")]
        self.assertEqual(bench_lib.account(calls, {"q1": (2, "ab")}), (1, 1, []))

    def test_empty_result_and_errors_fail(self):
        calls = [self.call("q1", 1.0, 0, "0000000000000000"),
                 self.call("q2", 1.0, -1, "", error="boom"),
                 self.call("q9", 1.0, 1, "bb")]
        self.assertEqual(bench_lib.account(calls, self.expected), (3, 3, []))


class PassSecondsTest(unittest.TestCase):
    def call(self, p, ms, traced=False, good=True):
        return {"pass": p, "ms": ms, "traced": traced, "good": good}

    def test_sums_per_pass_and_leaves_failed_passes_out(self):
        calls = [self.call(0, 1000.0), self.call(0, 500.0),
                 self.call(1, 2000.0, traced=True),
                 self.call(2, 100.0), self.call(2, 100.0, good=False),
                 self.call(3, 700.0)]
        ok = lambda c: c["good"]  # noqa: E731
        self.assertEqual(bench_lib.pass_seconds(calls, False, ok), [1.5, 0.7])
        self.assertEqual(bench_lib.pass_seconds(calls, True, ok), [2.0])

    def test_cpu_leaves_the_jit_out(self):
        calls = [dict(self.call(0, 900.0), cpu_ms=2500.0, jit_ms=500.0),
                 dict(self.call(0, 100.0), cpu_ms=300.0, jit_ms=0.0)]
        self.assertEqual(bench_lib.pass_seconds(calls, False, lambda c: True,
                                                bench_lib.call_cpu_ms), [2.3])


class LayerCoverageTest(unittest.TestCase):
    names = ["a.x", "a.y", "b.x", "c.x"]

    def test_missing_exercised_layer_is_reported(self):
        missing, idle = bench_lib.check_layers({"a.x": 1.0, "b.x": 2.0}, self.names,
                                               ["a.", "b."], ["a.x"])
        self.assertEqual((missing, idle), (["a.y"], []))

    def test_zero_where_the_layer_must_show(self):
        missing, idle = bench_lib.check_layers({"a.x": 0.0, "a.y": 3.0}, self.names,
                                               ["a."], ["a.x", "a.y"])
        self.assertEqual((missing, idle), ([], ["a.x"]))


class OrderTest(unittest.TestCase):
    def test_seed_fixes_the_order(self):
        a = bench_lib.call_orders(7, 12, 5)
        self.assertEqual(a, bench_lib.call_orders(7, 12, 5))
        self.assertNotEqual(a, bench_lib.call_orders(8, 12, 5))

    def test_each_pass_is_a_permutation(self):
        for order in bench_lib.call_orders(3, 9, 4):
            self.assertEqual(sorted(order), list(range(9)))

    def test_passes_differ_within_a_run(self):
        orders = bench_lib.call_orders(3, 9, 4)
        self.assertGreater(len({tuple(o) for o in orders}), 1)


if __name__ == "__main__":
    unittest.main()
