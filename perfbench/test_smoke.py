#!/usr/bin/env python3
"""Smoke test of the benchmark: a tiny run of every workload, untraced and
traced, must print every metric BENCHMARK.json declares, with its unit,
and pass its output checks.

    python3 -m unittest perfbench/test_smoke.py

Builds first if needed; about three minutes on a 4-core host.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


class SmokeTest(unittest.TestCase):
    def run_bench(self, workload, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_every_metric_is_emitted(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for w in spec["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    res = self.run_bench(w["name"], trace)
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"], res)
                    self.assertGreaterEqual(res["attempted"], 1)
                    for m in spec[key]:
                        got = res["metrics"][m["name"]]
                        self.assertEqual(got["unit"], m["unit"], m["name"])
                        self.assertIsInstance(got["value"], (int, float), m["name"])


if __name__ == "__main__":
    unittest.main()
