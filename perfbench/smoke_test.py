#!/usr/bin/env python3
"""Smoke test of the benchmark command: every workload, untraced and
traced, with a one-second window (one pass), must exit 0, report a correct
run, and print every metric BENCHMARK.json names, with its unit, and no
other. Takes about five minutes on a 4-core box.

Usage (from the root of a checkout): python3 perfbench/smoke_test.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "7", "--seconds", "1", "--trace",
             str(trace)], cwd=ROOT, stdout=subprocess.PIPE, text=True,
            timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def check(self, trace):
        want = {m["name"]: m["unit"] for m in
                self.spec["per_layer" if trace else "end_to_end"]}
        for w in self.spec["workloads"]:
            with self.subTest(workload=w["name"], trace=trace):
                res = self.run_bench(w["name"], trace)
                self.assertEqual(set(res), {"correct", "attempted", "failed",
                                            "metrics"})
                self.assertTrue(res["correct"])
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual(res["failed"], 0)
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                self.assertEqual(got, want)
                for k, v in res["metrics"].items():
                    self.assertIsInstance(v["value"], (int, float), k)
                    if not trace:
                        self.assertGreater(v["value"], 0, k)

    def test_end_to_end(self):
        self.check(trace=0)

    def test_per_layer(self):
        self.check(trace=1)


if __name__ == "__main__":
    unittest.main()
