"""Tests of the seeded gem_pipeline input generator.

Run from the root of a checkout:  python3 -m unittest discover -s perfbench/tests -p 'test_gen.py'
"""
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402

# The fixed sf0.01 copy of the driver's tables carries the schema to match.
DRIVER_TABLES = os.path.join(os.path.dirname(HERE), "data", "sf0.01")


class GenTest(unittest.TestCase):
    def test_same_seed_gives_identical_rows(self):
        a, b = gen.tables(7, 0.1), gen.tables(7, 0.1)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_same_seed_gives_identical_files(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write(os.path.join(d, "a"), 7, 0.1)
            gen.write(os.path.join(d, "b"), 7, 0.1)
            for name in gen.tables(7, 0.1):
                ta = pq.read_table(os.path.join(d, "a", f"{name}.parquet"))
                tb = pq.read_table(os.path.join(d, "b", f"{name}.parquet"))
                self.assertTrue(ta.equals(tb), name)

    def test_other_seed_gives_other_rows(self):
        a, b = gen.tables(7, 0.1), gen.tables(8, 0.1)
        for name in ("supplier", "customer", "part"):
            self.assertEqual(a[name].num_rows, b[name].num_rows)
            self.assertFalse(a[name].equals(b[name]), name)

    def test_foreign_keys_close(self):
        t = gen.tables(3, 0.1)
        nations = set(t["nation"]["n_nationkey"].to_pylist())
        regions = set(t["region"]["r_regionkey"].to_pylist())
        self.assertLessEqual(set(t["nation"]["n_regionkey"].to_pylist()), regions)
        self.assertLessEqual(set(t["supplier"]["s_nationkey"].to_pylist()), nations)
        self.assertLessEqual(set(t["customer"]["c_nationkey"].to_pylist()), nations)
        for name, key in (("supplier", "s_suppkey"), ("customer", "c_custkey"),
                          ("part", "p_partkey")):
            keys = t[name][key].to_pylist()
            self.assertEqual(len(keys), len(set(keys)), name)

    def test_schema_matches_driver_tables(self):
        t = gen.tables(3, 0.1)
        for name, table in t.items():
            want = pq.read_schema(os.path.join(DRIVER_TABLES, f"{name}.parquet"))
            self.assertEqual([(f.name, f.type) for f in table.schema],
                             [(f.name, f.type) for f in want], name)

    def test_dbgen_strings(self):
        t = gen.tables(3, 0.1)
        self.assertEqual(t["supplier"]["s_name"][42].as_py(), "Supplier#000000042")
        self.assertEqual(t["customer"]["c_name"][7].as_py(), "Customer#000000007")
        self.assertTrue(all(b.startswith("Brand#") for b in t["part"]["p_brand"].to_pylist()))
        for bal in t["customer"]["c_acctbal"].to_pylist():
            self.assertEqual(round(bal, 2), bal)

    def test_multiple_scales_rows(self):
        t = gen.tables(3, 0.5)
        self.assertEqual(t["supplier"].num_rows, 500)
        self.assertEqual(t["customer"].num_rows, 7500)
        self.assertEqual(t["part"].num_rows, 10000)


if __name__ == "__main__":
    unittest.main()
