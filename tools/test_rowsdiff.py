#!/usr/bin/env python3
"""Self-test for tools/rowsdiff.py (stdlib plus the duckdb it uses).

Run from anywhere:
    python3 tools/test_rowsdiff.py

Each case writes two small `graft.Verify`-shaped dumps (one parquet
directory per entry) to a temporary directory, runs rowsdiff.py on them as
a subprocess, and checks its status lines and exit code.
"""
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

ROWSDIFF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "rowsdiff.py")

TOPK = ("SELECT * FROM (VALUES (0::BIGINT, 1, 17::BIGINT, 0.412345::DOUBLE), "
        "(0, 2, 4, 0.398), (100, 1, 3, 0.5)) t(query_id, rnk, neighbor_id, cosine)")
GRAPH = ("SELECT * FROM (VALUES (0::BIGINT, 1, 17::BIGINT, true), (17, 1, 0, true)) "
         "t(vec_id, rnk, neighbor_id, mutual)")


class RowsDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.con = duckdb.connect()

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def dump(self, side, entries):
        """Write {entry: select} as a dump directory named `side`."""
        root = os.path.join(self.tmp.name, side)
        for name, sql in entries.items():
            os.makedirs(os.path.join(root, name))
            self.con.execute(f"COPY ({sql}) TO "
                             f"'{root}/{name}/part-00000.parquet' (FORMAT PARQUET)")
        with open(os.path.join(root, "oracle_sql.json"), "w") as f:
            f.write("{}")
        return root

    def run_diff(self, a, b, *extra):
        proc = subprocess.run([sys.executable, ROWSDIFF, a, b, *extra],
                              capture_output=True, text=True)
        return proc.returncode, proc.stdout

    def test_identical_dumps(self):
        a = self.dump("a", {"s04_ann_ivf_trained": TOPK, "s07b_knn_graph_trained": GRAPH})
        b = self.dump("b", {"s04_ann_ivf_trained": TOPK + " ORDER BY cosine",
                            "s07b_knn_graph_trained": GRAPH})
        code, out = self.run_diff(a, b)
        self.assertEqual(code, 0, out)
        self.assertIn("IDENTICAL s04_ann_ivf_trained (3 rows)", out)
        self.assertIn("2 of 2 entries identical", out)

    def test_one_changed_value_is_different(self):
        a = self.dump("a", {"s04_ann_ivf_trained": TOPK, "s07b_knn_graph_trained": GRAPH})
        b = self.dump("b", {"s04_ann_ivf_trained": TOPK.replace("0.398", "0.399"),
                            "s07b_knn_graph_trained": GRAPH})
        code, out = self.run_diff(a, b)
        self.assertEqual(code, 1, out)
        self.assertIn("DIFFERENT s04_ann_ivf_trained (values)", out)
        self.assertIn("0.398", out)
        self.assertIn("0.399", out)
        self.assertIn("IDENTICAL s07b_knn_graph_trained", out)

    def test_entry_in_one_dump_only_is_missing(self):
        a = self.dump("a", {"s04_ann_ivf_trained": TOPK, "s07b_knn_graph_trained": GRAPH})
        b = self.dump("b", {"s04_ann_ivf_trained": TOPK})
        code, out = self.run_diff(a, b)
        self.assertEqual(code, 1, out)
        self.assertIn("MISSING   s07b_knn_graph_trained", out)
        # --queries limits the comparison to the named entries
        code, out = self.run_diff(a, b, "--queries", "s04_ann_ivf_trained")
        self.assertEqual(code, 0, out)

    def test_reordered_columns_are_identical(self):
        a = self.dump("a", {"s04_ann_ivf_trained": TOPK})
        b = self.dump("b", {"s04_ann_ivf_trained":
                            f"SELECT cosine, neighbor_id, query_id, rnk FROM ({TOPK})"})
        code, out = self.run_diff(a, b)
        self.assertEqual(code, 0, out)
        self.assertIn("IDENTICAL s04_ann_ivf_trained", out)


if __name__ == "__main__":
    unittest.main()
