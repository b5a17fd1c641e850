"""Runs the harness's digest self-test (``graftbench.DigestSelfTest``).

Builds the program and the harness first if they are not built yet.

    python3 -m unittest discover -s graftbench/tests
"""

import pathlib
import subprocess
import sys
import unittest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import build  # noqa: E402


class DigestTest(unittest.TestCase):
    def test_digest_properties(self):
        classpath = build.ensure_built()
        proc = subprocess.run(["java", "-cp", classpath, "graftbench.DigestSelfTest"],
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              timeout=300)
        self.assertEqual(proc.returncode, 0, proc.stdout)
        self.assertIn("digest properties hold", proc.stdout)


if __name__ == "__main__":
    unittest.main()
