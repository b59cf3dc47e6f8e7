"""Runs the JVM self-test of the open-loop generator (due time -> publish
time against a fake clock, see src/cdcbench/SelfTest.scala). Builds the
harness first, so run it from the repository root:

    python3 -m unittest discover -s cdcbench/tests
"""
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402


class OpenLoopSchedule(unittest.TestCase):

    def test_due_time_to_publish_time(self):
        cp = build.build()
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "cdcbench.SelfTest"], capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertIn("SelfTest ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
