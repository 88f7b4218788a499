"""Self-tests of the benchmark's statistics and output check.

    python3 perfbench/test_perfbench.py
"""
import math
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import oracle  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_level_leaves_ten_samples_beyond(self):
        self.assertEqual(stats.tail_level(20), 50)
        self.assertEqual(stats.tail_level(24), 58)
        self.assertEqual(stats.tail_level(40), 75)
        self.assertEqual(stats.tail_level(100), 90)
        self.assertEqual(stats.tail_level(1000), 99)

    def test_too_few_samples_use_the_maximum(self):
        self.assertEqual(stats.tail_level(19), 100)
        self.assertEqual(stats.tail([3.0, 1.0, 2.0], 3), (100, 3.0))

    def test_value_on_fixed_samples(self):
        xs = [float(i) for i in range(1, 41)]  # 1..40
        p, v = stats.tail(xs, 40)
        self.assertEqual((p, v), (75, 30.0))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_level_follows_the_design_count_not_extra_passes(self):
        xs = [float(i) for i in range(1, 61)]  # a run that got 60 samples
        p, v = stats.tail(xs, 40)
        self.assertEqual((p, v), (75, 45.0))

    def test_failed_sample_counts_as_slowest(self):
        xs = [1.0] * 39 + [math.inf]
        self.assertEqual(stats.tail(xs, 19), (100, math.inf))


class Verdict(unittest.TestCase):
    BASE = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_improved_needs_nine_tenths_of_pairs_and_a_gap(self):
        new = [b * 0.8 for b in self.BASE]
        self.assertEqual(stats.verdict(list(zip(self.BASE, new)), 0.1), ("improved", 1.0))

    def test_small_shift_is_no_worse(self):
        new = [b * 1.03 for b in self.BASE]
        v, share = stats.verdict(list(zip(self.BASE, new)), 0.1)
        self.assertEqual((v, share), ("no worse", 0.0))

    def test_shift_beyond_the_bound_is_worse(self):
        new = [b * 1.3 for b in self.BASE]
        self.assertEqual(stats.verdict(list(zip(self.BASE, new)), 0.1)[0], "worse")

    def test_wide_base_spread_is_unresolved(self):
        base = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        new = [b * 1.05 for b in base]
        self.assertEqual(stats.verdict(list(zip(base, new)), 0.1)[0], "unresolved")

    def test_higher_is_better_metrics(self):
        new = [b * 1.5 for b in self.BASE]
        self.assertEqual(stats.verdict(list(zip(self.BASE, new)), 0.1, "higher")[0], "improved")

    def test_ties_count_for_neither_side(self):
        v, share = stats.verdict(list(zip(self.BASE, self.BASE)), 0.1)
        self.assertEqual((v, share), ("no worse", 0.0))


class OracleCheck(unittest.TestCase):
    SQL = "SELECT n_regionkey, COUNT(*) AS cnt FROM nation GROUP BY n_regionkey"

    def setUp(self):
        os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=os.path.join(HERE, "work"))
        self.data = os.path.join(self.dir, "data")
        os.makedirs(self.data)
        pq.write_table(pa.table({"n_nationkey": list(range(10)),
                                 "n_regionkey": [i % 3 for i in range(10)]}),
                       os.path.join(self.data, "nation.parquet"))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def spark_output(self, rows):
        out = os.path.join(self.dir, "out", "q_nation")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        # Spark writes a directory of part files, in any row order
        pq.write_table(pa.table({"n_regionkey": [r[0] for r in rows],
                                 "cnt": pa.array([r[1] for r in rows], pa.int64())}),
                       os.path.join(out, "part-00000.parquet"))

    def check(self):
        return oracle.check(self.data, os.path.join(self.dir, "cache"),
                            os.path.join(self.dir, "out"), {"q_nation": self.SQL})["q_nation"]

    def test_matching_output_passes(self):
        self.spark_output([(2, 3), (0, 4), (1, 3)])
        self.assertIsNone(self.check())

    def test_planted_wrong_row_is_caught(self):
        self.spark_output([(0, 4), (1, 3), (2, 4)])
        reason = self.check()
        self.assertIsNotNone(reason)
        self.assertIn("cnt", reason)

    def test_missing_row_is_caught(self):
        self.spark_output([(0, 4), (1, 3)])
        self.assertIn("rows", self.check())

    def test_expected_result_is_cached(self):
        self.spark_output([(0, 4), (1, 3), (2, 3)])
        self.assertIsNone(self.check())
        cached = os.listdir(os.path.join(self.dir, "cache"))
        self.assertEqual(len(cached), 1)
        self.assertIsNone(self.check())

    def test_changed_data_is_not_checked_against_the_cached_result(self):
        self.spark_output([(0, 4), (1, 3), (2, 3)])
        self.assertIsNone(self.check())
        # the same table with one nation moved from region 0 to region 2
        pq.write_table(pa.table({"n_nationkey": list(range(10)),
                                 "n_regionkey": [2] + [i % 3 for i in range(1, 10)]}),
                       os.path.join(self.data, "nation.parquet"))
        self.assertIsNotNone(self.check())
        self.spark_output([(0, 3), (1, 3), (2, 4)])
        self.assertIsNone(self.check())


if __name__ == "__main__":
    unittest.main()
