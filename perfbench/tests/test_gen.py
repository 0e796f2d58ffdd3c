"""The input generator is a pure function of its seed, and its lineitem
has the shape of the repository's fixture.

    python3 -m unittest discover -s perfbench/tests

Writes into .bench_build/perfbench/test-gen of the checkout and removes it.
"""
import filecmp
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402

ROOT = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_build", "perfbench", "test-gen")


def files(d):
    return sorted(os.listdir(d))


class SeededInputs(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(ROOT, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(ROOT, ignore_errors=True)

    def run_kind(self, kind):
        a, b, c = (os.path.join(ROOT, kind, x) for x in ("seed7", "seed7-again", "seed8"))
        gen.generate(kind, 7, a)
        gen.generate(kind, 7, b)
        gen.generate(kind, 8, c)
        self.assertEqual(files(a), files(b))
        self.assertTrue(files(a))
        _, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []), "same seed, different bytes")
        self.assertEqual(files(a), files(c))
        _, mismatch, _ = filecmp.cmpfiles(a, c, files(a), shallow=False)
        return mismatch

    def test_tables(self):
        differ = self.run_kind("tables")
        # region and nation are fixed dimension tables; every other differs
        self.assertEqual(set(differ), set(files(os.path.join(ROOT, "tables", "seed7")))
                         - {"region.parquet", "nation.parquet"})

    def test_lineitem_shape(self):
        # figures measured on the repository's sf0.01 lineitem fixture:
        # share of rows repeating an (orderkey, linenumber) pair 0.236,
        # lines per order (over orders with lines) mean 4.07 and variance
        # 3.72, share of orders without lines 0.017
        out = os.path.join(ROOT, "shape")
        gen.generate("tables", 7, out)
        li = pq.read_table(os.path.join(out, "lineitem.parquet"),
                           columns=["l_orderkey", "l_linenumber"])
        n_orders = pq.read_metadata(os.path.join(out, "orders.parquet")).num_rows
        ok = li.column("l_orderkey").to_numpy()
        ln = li.column("l_linenumber").to_numpy()
        repeat = 1 - len(np.unique(ok * 8 + ln)) / len(ok)
        lines = np.unique(ok, return_counts=True)[1]
        self.assertAlmostEqual(repeat, 0.236, delta=0.01)
        self.assertAlmostEqual(lines.mean(), 4.07, delta=0.05)
        self.assertAlmostEqual(lines.var(), 3.72, delta=0.3)
        self.assertAlmostEqual(1 - len(lines) / n_orders, 0.017, delta=0.006)

    def test_lifecycle(self):
        differ = self.run_kind("lifecycle")
        self.assertIn("expected_final.parquet", differ)
        self.assertTrue(all(f in differ for f in files(os.path.join(ROOT, "lifecycle", "seed7"))
                            if f.endswith(".csv")))

    def test_dml(self):
        differ = self.run_kind("dml")
        self.assertEqual(set(differ), {"base.parquet", "stream.jsonl", "expected_final.parquet"})


if __name__ == "__main__":
    unittest.main()
