"""oracle_check.py exit-code tests. Run from the repository root:

    python3 -m unittest discover -s scripts/tests -v

Each test builds a one-row dataset (the 10 tables oracle_check.py
registers) and a Verify-shaped output directory in a temporary
directory with DuckDB, runs the script on them and checks its exit code
and its per-face line.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "oracle_check.py")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# the oracle reads a registered view, so a MATCH also proves registration
COUNT_SQL = "SELECT CAST(count(*) AS INTEGER) AS n FROM embeddings"


class OracleCheckExitTest(unittest.TestCase):
    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.sf = os.path.join(tmp.name, "sf")
        self.out = os.path.join(tmp.name, "out")
        os.makedirs(self.sf)
        os.makedirs(self.out)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"COPY (SELECT 1 AS id, '{t}' AS name) "
                    f"TO '{self.sf}/{t}.parquet' (FORMAT PARQUET)")
        self.con = con

    def dump(self, face, select):
        """Writes one face's Spark output: a directory with one parquet part."""
        os.makedirs(os.path.join(self.out, face))
        self.con.sql(f"COPY ({select}) TO "
                     f"'{self.out}/{face}/part-00000.parquet' (FORMAT PARQUET)")

    def run_check(self, oracle):
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump(oracle, f)
        p = subprocess.run([sys.executable, SCRIPT, self.sf, self.out],
                           capture_output=True, text=True, timeout=120)
        return p.returncode, p.stdout

    def test_match_exits_0(self):
        self.dump("q", "SELECT CAST(1 AS INTEGER) AS n")
        code, out = self.run_check({"q": COUNT_SQL})
        self.assertEqual(code, 0, out)
        self.assertIn("q: MATCH rows=1", out)
        self.assertIn("oracle_check: 1 match, 0 fail, 1 faces", out)

    def test_hash_mismatch_exits_1(self):
        self.dump("q", "SELECT CAST(2 AS INTEGER) AS n")
        code, out = self.run_check({"q": COUNT_SQL})
        self.assertEqual(code, 1, out)
        self.assertIn("q: HASH MISMATCH", out)

    def test_no_oracle_sql_exits_1(self):
        self.dump("q", "SELECT CAST(1 AS INTEGER) AS n")
        self.dump("stale", "SELECT CAST(1 AS INTEGER) AS n")
        code, out = self.run_check({"q": COUNT_SQL})
        self.assertEqual(code, 1, out)
        self.assertIn("stale: NO ORACLE SQL", out)
        self.assertIn("q: MATCH", out)

    def test_oracle_error_exits_1(self):
        self.dump("q", "SELECT CAST(1 AS INTEGER) AS n")
        code, out = self.run_check({"q": "SELECT n FROM no_such_table"})
        self.assertEqual(code, 1, out)
        self.assertIn("q: ORACLE ERROR", out)

    def test_no_spark_output_exits_1(self):
        code, out = self.run_check({"q": COUNT_SQL})
        self.assertEqual(code, 1, out)
        self.assertIn("q: NO SPARK OUTPUT", out)


if __name__ == "__main__":
    unittest.main()
