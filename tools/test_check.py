#!/usr/bin/env python3
"""Self-test for tools/check.py (stdlib plus the duckdb and pandas it uses).

Run from anywhere:
    python3 tools/test_check.py

Each case builds a tiny corpus directory (one-row parquet files for every
table check.py registers) and a `graft.Verify`-shaped output directory
(`oracle_sql.json` plus one parquet directory per Spark result) in a
temporary directory, runs check.py on them as a subprocess, and checks its
PASS/FAIL lines and exit code.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

CHECK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check.py")
sys.path.insert(0, os.path.dirname(CHECK))
from check import TABLES  # noqa: E402


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sf = os.path.join(self.tmp.name, "sf")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.sf)
        os.makedirs(self.out)
        self.con = duckdb.connect()
        for t in TABLES:
            self.copy("SELECT 1::BIGINT AS doc_id, 'a b c' AS text",
                      os.path.join(self.sf, f"{t}.parquet"))

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def copy(self, sql, path):
        self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")

    def spark_result(self, name, sql):
        os.makedirs(os.path.join(self.out, name))
        self.copy(sql, os.path.join(self.out, name, "part-00000.parquet"))

    def run_check(self, oracles):
        with open(os.path.join(self.out, "oracle_sql.json"), "w", encoding="utf-8") as f:
            json.dump(oracles, f)
        proc = subprocess.run([sys.executable, CHECK, self.sf, self.out],
                              capture_output=True, text=True)
        return proc.returncode, proc.stdout

    def test_matching_result_passes(self):
        self.spark_result("q01", "SELECT * FROM (VALUES (1::BIGINT, 'a b c'), "
                                 "(2::BIGINT, 'd')) t(doc_id, text)")
        code, out = self.run_check({"q01": "SELECT doc_id, text FROM documents "
                                           "UNION ALL SELECT 2, 'd'"})
        self.assertEqual(code, 0, out)
        self.assertIn("PASS q01 (2 rows)", out)
        self.assertIn("1 pass, 0 fail", out)

    def test_hash_mismatch_prints_first_differing_row(self):
        self.spark_result("q01", "SELECT * FROM (VALUES (1::BIGINT, 'x'), "
                                 "(2::BIGINT, 'y')) t(doc_id, v)")
        code, out = self.run_check({"q01": "SELECT * FROM (VALUES (1::BIGINT, 'x'), "
                                           "(2::BIGINT, 'z')) t(doc_id, v)"})
        self.assertEqual(code, 1, out)
        self.assertIn("FAIL q01: hash mismatch (2 rows)", out)
        self.assertIn("  spark : 2|y\n  oracle: 2|z", out)

    def test_missing_spark_result_fails(self):
        code, out = self.run_check({"q01": "SELECT 1 AS a"})
        self.assertEqual(code, 1, out)
        self.assertIn("FAIL q01: spark result missing", out)

    def test_column_mismatch_fails(self):
        self.spark_result("q01", "SELECT 1::BIGINT AS a, 2::BIGINT AS b")
        code, out = self.run_check({"q01": "SELECT 1::BIGINT AS a, 2::BIGINT AS c"})
        self.assertEqual(code, 1, out)
        self.assertIn("FAIL q01: cols spark=['a', 'b'] oracle=['a', 'c']", out)

    def test_float_int_dtype_split_fails(self):
        # fetchall sees 5 == 5.0, but a pandas-mode compare hashes "5" vs "5.0"
        self.spark_result("q01", "SELECT 5::BIGINT AS n")
        code, out = self.run_check({"q01": "SELECT 5.0::DOUBLE AS n"})
        self.assertEqual(code, 1, out)
        self.assertIn("FAIL q01: float/int dtype split", out)
        self.assertIn("n oracle=float64 spark=int64", out)


if __name__ == "__main__":
    unittest.main()
