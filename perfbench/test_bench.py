#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke test runs every workload once on the small inputs, untraced
and traced, and takes a few minutes (plus the build, the first time).
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


class BenchTest(unittest.TestCase):

    def test_smoke_reports_every_metric(self):
        p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--smoke"], cwd=ROOT,
                           capture_output=True, text=True, timeout=1800)
        self.assertEqual(p.returncode, 0, p.stdout[-4000:] + p.stderr[-4000:])
        self.assertEqual(json.loads(p.stdout.splitlines()[-1]), {"smoke": "ok"})

    def test_fails_without_graft_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(BENCH, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tables",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=120)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
