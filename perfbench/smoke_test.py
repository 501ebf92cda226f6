"""Smoke test for the benchmark, at toy size.

Runs every workload untraced and traced on a small capture and a short
loop, and asserts that each end-to-end and per-layer metric named in
BENCHMARK.json is printed with its unit. A last run corrupts one response
on purpose and asserts that the checks count it as a failure.

Usage: python3 perfbench/smoke_test.py   (about five minutes on 4 cores)
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
TOY = ["--seconds", "2", "--originals", "600"]


def run(workload, trace, *extra):
    """Returns the run's summary line and its result line."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--trace", str(trace)] + TOY + list(extra)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    assert r.returncode == 0, f"{cmd} exited with {r.returncode}"
    summary, result = r.stdout.strip().splitlines()[-2:]
    return json.loads(summary), json.loads(result)


class SmokeTest(unittest.TestCase):

    def assert_metrics(self, result, specs):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        for m in specs:
            self.assertIn(m["name"], result["metrics"])
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_workload_emits_every_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                _, plain = run(w["name"], 0)
                self.assertTrue(plain["correct"])
                self.assertEqual(plain["failed"], 0)
                self.assert_metrics(plain, SPEC["end_to_end"])
                self.assert_metrics(run(w["name"], 1)[1], SPEC["per_layer"])

    def test_corrupted_response_counts_as_failure(self):
        # The fault corrupts the first served response and the first
        # catalog result; the serving checks and the catalog check must
        # each count it.
        summary, r = run(SPEC["workloads"][0]["name"], 0, "--inject-fault")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 2)
        errors = summary["errors"]
        self.assertIn("catalog_rows", errors)
        self.assertTrue({"hit_rows", "direct_rows"} & set(errors), errors)


if __name__ == "__main__":
    unittest.main()
