"""bench_extra.py command-line usage errors: a missing or unknown
subcommand, or a wrong argument count, prints the usage docstring and
exits non-zero before any Spark session starts."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "args", [[], ["bogus"], ["time"], ["plan", "only_name"], ["stages", "extra"]]
)
def test_usage_error_exits_nonzero(args):
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "bench_extra.py"), *args],
        capture_output=True,
        text=True,
        timeout=60,
        cwd=_REPO,
    )
    assert proc.returncode == 2
    assert "Usage:" in proc.stderr
    assert "Traceback" not in proc.stderr
    assert proc.stdout == ""
