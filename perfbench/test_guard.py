"""The benchmark's own test: the state-crossing guard must fail a run.

Run from the repository root:  python3 perfbench/test_guard.py

Each timed rep must read a fresh input directory, because graft memoizes
derived state per directory (SessionMemo, the CCI chain caches). The run
below makes every rep re-read the first rep's input (`--reuse-input`), so
the guard must mark the run incorrect and count the reused rep as failed.
A control run with the same seed must pass.
"""
import json
import os
import subprocess
import sys
import unittest

RUN = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
       "--workload", "grid", "--seed", "7", "--seconds", "1", "--trace", "0"]


def bench(*extra):
    p = subprocess.run(RUN + list(extra), capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


class GuardTest(unittest.TestCase):
    def test_reused_input_fails_the_run(self):
        res, err = bench("--reuse-input")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn("reuses input", err)

    def test_fresh_inputs_pass(self):
        res, err = bench()
        self.assertTrue(res["correct"], err[-3000:])
        self.assertEqual(res["failed"], 0)


if __name__ == "__main__":
    unittest.main()
