"""Runs the benchmark's Scala checks (seeded inputs, digests, failed
operations) through the benchmark's own build.

    python3 -m unittest discover -s kgbench/tests
"""

import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402


def have_spark():
    try:
        run.spark_jars()
        return True
    except run.BenchError:
        return False


@unittest.skipUnless(have_spark(), "needs a Spark installation with a Scala compiler")
class SelfTest(unittest.TestCase):
    def test_scala_checks_pass(self):
        p = subprocess.run([sys.executable, os.path.join(os.path.dirname(HERE), "run.py"), "--self-test"],
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
