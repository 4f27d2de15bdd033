"""Engine defects the gated workloads do not reach, each an expected
failure: once a fix lands the test reports an unexpected success, and the
workload can take the shape that reaches the fixed path.

    python3 -m unittest perfbench/tests/test_known_defects.py

Boots real JVMs with a bulk relation past the engine's local threshold:
about a minute.
"""

import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class KnownDefects(unittest.TestCase):
    @unittest.expectedFailure
    def test_merge_after_each_branch_deletes_then_inserts(self):
        # dcl/Dcl.scala unions a `using`-join result (digest column first)
        # with its wide twin (digest column last) by position, so Merge
        # answers CAST_INVALID_INPUT on a digest string. bulk_branch_merge
        # inserts before it deletes on each branch, which merges correctly.
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", "bulk_branch_merge", "--seed", "5", "--seconds", "1",
                            "--trace", "0", "--size", "threshold", "--delete-first"],
                           cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True,
                           timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout[-600:])


if __name__ == "__main__":
    unittest.main()
