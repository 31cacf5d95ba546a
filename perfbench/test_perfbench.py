"""Unit tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen        # noqa: E402
import metrics    # noqa: E402
import workloads  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_star_is_deterministic_per_seed(self):
        a, b, c = (gen.star_tables(s, orders=500) for s in (7, 7, 8))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertFalse(a["orders"].equals(c["orders"]))

    def test_versioned_inputs_are_deterministic_per_seed(self):
        a, b, c = (gen.versioned_inputs(s, base_rows=2000, arrival_rows=40, rounds=5)
                   for s in (3, 3, 4))
        self.assertTrue(a[0].equals(b[0]))
        self.assertTrue(all(x.equals(y) for x, y in zip(a[1], b[1])))
        self.assertEqual(a[2], b[2])
        self.assertFalse(all(x.equals(y) for x, y in zip(a[1], c[1])))

    def test_arrivals_are_small_and_hit_the_newest_keys(self):
        base, arrivals, deletes = gen.versioned_inputs(1, base_rows=20_000, arrival_rows=100,
                                                       rounds=4)
        for a in arrivals:
            keys = a.column("k").to_pylist()
            self.assertEqual(len(keys), len(set(keys)))        # MERGE needs unique keys
            self.assertLess(a.num_rows, base.num_rows // 100)  # under 1% of the table
            self.assertGreaterEqual(min(keys), 20_000 - gen.HOT_SPAN)
        for lo, hi in deletes:
            self.assertEqual(hi - lo, gen.DELETE_SPAN)

    def test_corpus_is_deterministic_and_families_stay_below_the_cap(self):
        (t1, f1), (t2, f2), (t3, _) = (gen.corpus_table(s, docs=600) for s in (5, 5, 6))
        self.assertTrue(t1.equals(t2))
        self.assertEqual(f1, f2)
        self.assertFalse(t1.equals(t3))
        self.assertTrue(f1)
        self.assertTrue(all(2 <= len(f) < gen.MAX_BUCKET for f in f1))
        ids = t1.column("doc_id").to_pylist()
        self.assertEqual(len(ids), len(set(ids)))

    def test_expected_keepers_cover_every_doc_once(self):
        table, families = gen.corpus_table(9, docs=400)
        rows = workloads.expected_keepers(table, families)
        self.assertEqual(sum(size for _, _, size in rows), table.num_rows)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))               # 100 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8     # 40 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, pct, n), (4.0, 75.0, 40))

    def test_small_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(metrics.tail(list(range(20))), (19, 100.0, 20))
        value, pct, _ = metrics.tail(list(range(21)))
        self.assertEqual(value, 10)
        self.assertAlmostEqual(pct, 100 * 11 / 21)


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlaps_once(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_with_nested_and_overlapping_children(self):
        # children overlap each other (1-4, 3-6), one nests in another
        # (2-3 inside 1-4), and one runs past the parent's end (9-12)
        children = [(1, 4), (3, 6), (2, 3), (9, 12)]
        self.assertEqual(metrics.self_time((0, 10), children), 10 - 5 - 1)

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        ops = [(0, 10), (20, 25)]
        jobs = [(1, 3), (2, 5), (7, 8), (21, 22), (30, 31)]
        # op 1: 10 - |1..5 ∪ 7..8| = 5; op 2: 5 - 1 = 4; the job at 30 is outside
        self.assertEqual(metrics.driver_gap(ops, jobs), 9)

    def test_layer_self_times_account_for_the_wall(self):
        loop = [(0, 100)]
        ops = [(0, 40), (50, 90)]
        jobs = [(5, 30), (55, 95)]            # the second runs past its op
        tasks = [(6, 20), (10, 25), (60, 70)]
        acct = metrics.layer_self_times([loop, ops, jobs, tasks])
        self.assertEqual(acct, [20, 20, 31, 29])
        self.assertEqual(sum(acct), 100)


if __name__ == "__main__":
    unittest.main()
