"""The query workload's oracle compare must reject a corrupted output.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.data)
        os.makedirs(os.path.join(self.out, "q1"))
        con = duckdb.connect()
        con.execute(f"COPY (SELECT range AS k, range * 2 AS v FROM range(10)) "
                    f"TO '{self.data}/t.parquet' (FORMAT parquet)")
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as fh:
            json.dump({"q1": "SELECT k, v FROM t"}, fh)
        self.con = con

    def tearDown(self):
        self.tmp.cleanup()

    def write_result(self, sql):
        self.con.execute(f"COPY ({sql}) TO '{self.out}/q1/part-0.parquet' (FORMAT parquet)")

    def test_matching_output_passes(self):
        self.write_result(f"SELECT * FROM '{self.data}/t.parquet'")
        ok, passed, bad = run.oracle_check(self.data, self.out)
        self.assertTrue(ok)
        self.assertEqual((len(passed), bad), (1, []))

    def test_corrupted_output_fails(self):
        self.write_result(f"SELECT k, CASE WHEN k = 3 THEN v + 1 ELSE v END AS v "
                          f"FROM '{self.data}/t.parquet'")
        ok, _, bad = run.oracle_check(self.data, self.out)
        self.assertFalse(ok)
        self.assertEqual(len(bad), 1)

    def test_dropped_row_fails(self):
        self.write_result(f"SELECT * FROM '{self.data}/t.parquet' WHERE k <> 5")
        ok, _, _ = run.oracle_check(self.data, self.out)
        self.assertFalse(ok)


if __name__ == "__main__":
    unittest.main()
