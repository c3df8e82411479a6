"""Runs the JVM-side self-test (row digest, byte accounting) on the built
harness; builds it first if needed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import shutil
import subprocess
import tempfile
import unittest
from pathlib import Path

import build
import run


@unittest.skipUnless(shutil.which("java"), "needs a JVM")
class HarnessSelfTest(unittest.TestCase):
    def test_digest_and_byte_accounting(self):
        cp = build.build()
        with tempfile.TemporaryDirectory(dir=build.build_dir()) as d:
            work = Path(d)
            (work / "tmp").mkdir()
            p = subprocess.run(run.java_cmd(cp, work, "perfbench.SelfTest", []), cwd=work,
                               capture_output=True, text=True, timeout=300)
        lines = [line for line in p.stdout.splitlines() if line.startswith(("ok", "FAIL"))]
        self.assertTrue(lines, p.stdout + p.stderr[-2000:])
        self.assertEqual([line for line in lines if line.startswith("FAIL")], [])
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
