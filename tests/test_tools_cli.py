"""Command-line contract of the tools: bad arguments get the usage line
and the registered query names, exit 1, and never start Spark."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _time_one(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-B", os.path.join(ROOT, "tools", "time_one.py"), *args],
        capture_output=True,
        text=True,
        timeout=120,
    )


@pytest.mark.parametrize(
    "args",
    [(), ("no_such_query",), ("q01_pricing_summary", "five")],
    ids=["no_args", "unknown_name", "bad_run_count"],
)
def test_time_one_bad_args_print_usage(args):
    proc = _time_one(*args)
    assert proc.returncode == 1
    assert "Traceback" not in proc.stderr
    assert "usage: python tools/time_one.py" in proc.stderr
    # the sorted registry follows the usage line
    assert "q01_pricing_summary, " in proc.stderr
