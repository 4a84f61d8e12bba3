"""Command-level tests of the benchmark's correctness gate.

    python3 -m unittest discover -s perfbench/tests

Each test runs the real command on the whisper workload, so it builds the
benchmark on first use and takes about a minute.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")


def run(*extra, cwd=ROOT):
    args = [sys.executable, RUN, "--workload", "whisper", "--seed", "11",
            "--seconds", "1", "--trace", "0", *extra]
    return subprocess.run(args, cwd=cwd, capture_output=True, text=True, timeout=600)


class GateTest(unittest.TestCase):
    def test_correct_run_passes(self):
        p = run()
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertIn("setup_s", result["metrics"])

    def test_perturbed_expectation_fails_the_command(self):
        p = run("--perturb", "1")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(p.returncode, 1)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)

    def test_refuses_to_run_without_the_library_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project/target"))
            p = run(cwd=d)
        self.assertEqual(p.returncode, 2)
        self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
