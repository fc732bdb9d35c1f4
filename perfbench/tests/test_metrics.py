"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import decimal
import datetime
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import check  # noqa: E402
import compare  # noqa: E402
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_ladder_percentile_with_ten_beyond(self):
        # 1000 ops: p99 leaves exactly 10 beyond rank 990
        p, v = metrics.tail(list(range(1, 1001)))
        self.assertEqual((p, v), (99.0, 990))
        # 200 ops: p95 leaves 10 beyond rank 190; p99 would leave 2
        self.assertEqual(metrics.tail(list(range(1, 201))), (95.0, 190))
        # 100 ops: p90 leaves 10 beyond rank 90
        self.assertEqual(metrics.tail(list(range(1, 101))), (90.0, 90))

    def test_at_least_ten_ops_beyond_for_every_n(self):
        for n in range(11, 400):
            v = list(range(n))
            p, x = metrics.tail(v)
            self.assertGreaterEqual(sum(1 for y in v if y > x), 10, n)

    def test_order_independent(self):
        v = [5.0, 1.0, 3.0] * 20
        self.assertEqual(metrics.tail(v), metrics.tail(sorted(v)))

    def test_small_samples(self):
        # 15 ops: below p50's 20, the rank leaving exactly 10 beyond
        p, v = metrics.tail(list(range(1, 16)))
        self.assertEqual(v, 5)
        self.assertAlmostEqual(p, 100 * 5 / 15)
        # 10 ops or fewer: nothing has 10 beyond, report the maximum
        self.assertEqual(metrics.tail([3, 1, 2]), (100.0, 3))


class RowsTest(unittest.TestCase):
    def test_a_curate_pass_consumes_docs_plus_vectors_once(self):
        per_op = metrics.curate_op_rows(2000, 2000, 8)
        self.assertEqual(per_op * 8, 4000)

    def test_rows_per_s_counts_only_completed_ops_over_all_op_time(self):
        ops = [{"key": "a", "ok": True, "dur_s": 1.0, "rows": 100},
               {"key": "b", "ok": False, "dur_s": 1.0, "rows": 50},
               {"key": "c", "ok": True, "dur_s": 2.0, "rows": 300}]
        self.assertEqual(metrics.rows_per_s(ops), 100.0)

    def test_rows_per_s_times_each_op_at_its_key_best(self):
        # three passes of two keys; one 9 s spike of key a
        ops = [{"key": k, "ok": True, "dur_s": d, "rows": 10}
               for k, d in (("a", 1.0), ("b", 2.0), ("a", 9.0),
                            ("b", 3.0), ("a", 1.5), ("b", 2.5))]
        # 60 rows over 3 * (1 + 2) s, not over the 19 s the ops took
        self.assertAlmostEqual(metrics.rows_per_s(ops), 60 / 9)


class PerKeyTest(unittest.TestCase):
    def test_stat_per_key(self):
        ops = [{"key": k, "dur_s": d} for k, d in
               (("a", 3.0), ("a", 1.0), ("a", 2.0), ("b", 4.0), ("b", 6.0))]
        self.assertEqual(metrics.per_key(ops, min), {"a": 1.0, "b": 4.0})
        self.assertEqual(metrics.per_key(ops, max), {"a": 3.0, "b": 6.0})

    def test_geomean_weighs_every_key_the_same(self):
        ops = [{"key": "a", "dur_s": 0.5}] * 5 + [{"key": "b", "dur_s": 8.0}]
        self.assertAlmostEqual(metrics.key_best_geomean(ops), 2.0)
        # slow runs of a key do not move it while one run is fast
        spiked = ops + [{"key": "b", "dur_s": 9.0}, {"key": "b", "dur_s": 80.0}]
        self.assertAlmostEqual(metrics.key_best_geomean(spiked), 2.0)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ns": a, "end_ns": b}

    def test_self_time_subtracts_covered_union(self):
        s = [self.span(1, 0, 0, 10_000_000_000),
             self.span(2, 1, 1_000_000_000, 4_000_000_000),
             self.span(3, 1, 3_000_000_000, 5_000_000_000),  # overlaps 2
             self.span(4, 1, 8_000_000_000, 9_000_000_000),
             self.span(5, 2, 1_000_000_000, 2_000_000_000)]
        t = metrics.self_times(s)
        self.assertAlmostEqual(t[1], 10 - 4 - 1)
        self.assertAlmostEqual(t[2], 3 - 1)
        self.assertAlmostEqual(t[3], 2)
        self.assertAlmostEqual(t[5], 1)

    def test_child_outside_parent_is_clipped(self):
        s = [self.span(1, 0, 0, 2_000_000_000),
             self.span(2, 1, 1_000_000_000, 5_000_000_000)]
        self.assertAlmostEqual(metrics.self_times(s)[1], 1.0)


class HitRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(metrics.hit_ratio(3, 1), 0.75)
        self.assertEqual(metrics.hit_ratio(0, 4), 0.0)
        self.assertEqual(metrics.hit_ratio(0, 0), 0.0)


class StagedSimulationTest(unittest.TestCase):
    def test_append_adds_and_dynamic_replaces_only_its_partitions(self):
        batches = {"a": {"parts": {"2024-1": [10, "5"], "2024-2": [4, "1"]}},
                   "b": {"parts": {"2024-1": [3, "2"]}}}
        counts, state = check.simulate_staged(
            [("t", "a", "append"), ("t", "a", "append"), ("t", "b", "dynamic")],
            batches)
        self.assertEqual(counts, [14, 28, 11])
        self.assertEqual(state, {"t": {"2024-1": [3, 2], "2024-2": [8, 2]}})


class CanonTest(unittest.TestCase):
    def test_values_match_the_jvm_forms(self):
        self.assertEqual(check.value(0.1),
                         "f0.1000000000000000055511151231257827021181583404541015625")
        self.assertEqual(check.value(100.0), "f100")
        self.assertEqual(check.value(-0.0), "f0")
        self.assertEqual(check.value(decimal.Decimal("12.30")), "d12.3")
        self.assertEqual(check.value(decimal.Decimal("100.00")), "d100")
        self.assertEqual(check.value(7), "i7")
        self.assertEqual(check.value("é😀"), "s3:é😀")
        self.assertEqual(check.value(datetime.datetime(1970, 1, 1, 0, 0, 1, 5)), "t1000005")
        self.assertEqual(check.value(datetime.date(1970, 1, 3)), "D2")
        self.assertEqual(check.value([1, None]), "[i1,N]")

    def test_digest_ignores_row_and_column_order(self):
        a = check.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = check.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, check.digest(["a", "b"], [("y", 2)]))


class CompareTest(unittest.TestCase):
    def test_improved_needs_nine_of_ten_wins_and_gap_beyond_parent_iqr(self):
        parent = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]
        change = [x - 1.0 for x in parent]
        v, share, _ = compare.verdict(parent, change, "lower", 0.1)
        self.assertEqual((v, share), ("improved", 1.0))

    def test_worse_beyond_bound(self):
        parent = [10.0] * 10
        v, _, _ = compare.verdict(parent, [12.0] * 10, "lower", 0.1)
        self.assertEqual(v, "worse")
        v, _, _ = compare.verdict(parent, [8.0] * 10, "higher", 0.1)
        self.assertEqual(v, "worse")

    def test_unchanged_and_unresolved(self):
        parent = [10.0, 10.1, 9.9, 10.0, 10.05, 9.95, 10.0, 10.1, 9.9, 10.0]
        v, _, _ = compare.verdict(parent, list(reversed(parent)), "lower", 0.1)
        self.assertEqual(v, "unchanged")
        wide = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        v, _, _ = compare.verdict(wide, list(reversed(wide)), "lower", 0.1)
        self.assertEqual(v, "unresolved")


if __name__ == "__main__":
    unittest.main()
