"""Tests of the benchmark itself: its inputs repeat for a seed, and a wrong
FINAL state or a wrong query result is reported as a failed operation
(`failed` > 0, `correct` false), which is what the error ratio counts.

Run from the root of the repository:

    python3 -m unittest perfbench.test_bench

The fault-injection tests build and run the benchmark, which takes a few
minutes.
"""
import json
import os
import subprocess
import sys
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import oracle  # noqa: E402


class FixtureTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = fixtures.tables(5, 0.0002), fixtures.tables(5, 0.0002)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a, b = fixtures.tables(5, 0.0002), fixtures.tables(6, 0.0002)
        self.assertFalse(a["documents"].equals(b["documents"]))


class OracleMatchTest(unittest.TestCase):
    frame = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})

    def test_same_rows_in_another_order_match(self):
        ok, _ = oracle.matches(self.frame.iloc[::-1], self.frame)
        self.assertTrue(ok)

    def test_changed_value_is_a_mismatch(self):
        wrong = self.frame.copy()
        wrong.loc[1, "v"] = 1.5
        self.assertEqual(oracle.matches(wrong, self.frame), (False, "hash mismatch"))

    def test_missing_row_is_a_mismatch(self):
        ok, why = oracle.matches(self.frame.iloc[1:], self.frame)
        self.assertFalse(ok)
        self.assertIn("rowcount", why)


def run_bench(workload, fault):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", "0", "--fault", fault],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise AssertionError(f"benchmark failed ({r.returncode}):\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


class FaultInjectionTest(unittest.TestCase):
    def test_clean_sync_passes(self):
        res = run_bench("initial_sync", "none")
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)

    def test_wrong_final_state_is_a_failed_operation(self):
        res = run_bench("initial_sync", "final")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertGreater(res["attempted"], res["failed"])

    def test_wrong_query_result_is_a_failed_operation(self):
        res = run_bench("training_queries", "query")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)


if __name__ == "__main__":
    unittest.main()
