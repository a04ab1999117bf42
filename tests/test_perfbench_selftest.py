"""The benchmark's own roll-up code (percentiles, event-log roll-up onto
spans) under tier-1: runs ``perfbench/selftest.py`` on its committed event
log. No Spark."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_selftest_passes():
    proc = subprocess.run(
        [sys.executable, "-B", os.path.join(ROOT, "perfbench", "selftest.py")],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
