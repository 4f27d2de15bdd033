"""Smoke run of every workload at tiny sizes, untraced and traced.

    python3 -m unittest perfbench/tests/test_smoke.py

Builds on first use and boots real JVMs: a few minutes in all.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
import trace_report  # noqa: E402
import workloads  # noqa: E402


def bench(workload, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "5", "--seconds", "2", "--trace", str(trace),
                        "--size", "smoke"],
                       cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, json.loads(lines[-2]), json.loads(lines[-1])


class Smoke(unittest.TestCase):
    def test_every_workload(self):
        for workload in sorted(workloads.WORKLOADS):
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    code, full, result = bench(workload, trace)
                    self.assertEqual(code, 0, full["failures"])
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    wanted = trace_report.PER_LAYER if trace else run.E2E
                    self.assertEqual(set(result["metrics"]), set(wanted))
                    self.assertEqual(full["metrics"]["failed_frac"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
