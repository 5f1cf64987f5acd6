#!/usr/bin/env python3
"""Self-test for tools/plandiff.py (stdlib only).

Run from anywhere:
    python3 tools/test_plandiff.py

Each case writes two small `graft.Explain`-shaped dumps to a temporary
directory, runs plandiff.py on them as a subprocess, and checks its status
lines and exit code.
"""
import os
import subprocess
import sys
import tempfile
import unittest

PLANDIFF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plandiff.py")

PLAN = """\
===== r13_order_lifecycle
== Physical Plan ==
AdaptiveSparkPlan (3)
+- Project (2)
   +- Scan parquet  (1)

(1) Scan parquet
Output [2]: [user_id#{a}L, close_pr#{b}]

(2) Project
Output [1]: [user_id#{a}L]
Input [2]: [user_id#{a}L, close_pr#{b}]

(3) Exchange
Arguments: hashpartitioning(user_id#{a}L, 4), ENSURE_REQUIREMENTS, [plan_id={p}]
{rdd}[{r}] at {call} at CciPipeline.scala:{line}
"""


def dump(a, b, p, r, line, rdd="MapPartitionsRDD", call="collect", noise=()):
    head = ["[info] welcome to sbt 1.10.0 (Debian Java 17.0.20)"]
    head += list(noise)
    body = PLAN.format(a=a, b=b, p=p, r=r, line=line, rdd=rdd, call=call)
    return "\n".join(head) + "\n" + body + "[success] Total time: 51 s\n"


class PlanDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def run_diff(self, before, after):
        paths = []
        for name, text in (("before.txt", before), ("after.txt", after)):
            path = os.path.join(self.tmp.name, name)
            with open(path, "w", encoding="utf-8") as f:
                f.write(text)
            paths.append(path)
        proc = subprocess.run([sys.executable, PLANDIFF] + paths,
                              capture_output=True, text=True)
        return proc.returncode, proc.stdout

    def test_run_dependent_ids_and_noise_are_identical(self):
        before = dump(a=5, b=6, p=12, r=40, line=1150,
                      noise=["26/10/17 19:26:06 INFO SparkContext: Running Spark"])
        after = dump(a=91, b=17, p=3, r=7, line=1168,
                     noise=["[warn] 3 deprecations (since 2.13.0)",
                            "26/10/17 20:01:44 WARN NativeCodeLoader: no native"])
        code, out = self.run_diff(before, after)
        self.assertEqual(code, 0, out)
        self.assertIn("IDENTICAL r13_order_lifecycle", out)

    def test_changed_operator_line_is_different(self):
        before = dump(a=5, b=6, p=12, r=40, line=1150)
        after = dump(a=5, b=6, p=12, r=40, line=1150).replace(
            "+- Project (2)", "+- Filter (2)")
        code, out = self.run_diff(before, after)
        self.assertEqual(code, 1, out)
        self.assertIn("DIFFERENT r13_order_lifecycle", out)
        self.assertIn("++- Filter (2)", out)

    def test_query_in_one_dump_only_is_missing(self):
        before = dump(a=5, b=6, p=12, r=40, line=1150)
        after = before + "===== r09_recommendations\n== Physical Plan ==\n"
        code, out = self.run_diff(before, after)
        self.assertEqual(code, 1, out)
        self.assertIn("IDENTICAL r13_order_lifecycle", out)
        self.assertIn("MISSING   r09_recommendations", out)

    def test_dump_without_sections_exits_2(self):
        empty = "[info] welcome to sbt 1.10.0\n[success] Total time: 1 s\n"
        code, _ = self.run_diff(empty, empty)
        self.assertEqual(code, 2)


if __name__ == "__main__":
    unittest.main()
