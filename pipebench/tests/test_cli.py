"""Command-line failures exit non-zero without printing a result."""

import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def _run(args, cwd=ROOT, script=os.path.join(BENCH, "run.py")):
    return subprocess.run([sys.executable, script, *args], cwd=cwd, capture_output=True, text=True, timeout=120)


def test_missing_workload_prints_usage():
    p = _run(["--seed", "1", "--seconds", "1"])
    assert p.returncode != 0
    assert "usage:" in p.stderr and "--workload" in p.stderr
    assert p.stdout == ""


def test_unknown_workload_prints_usage():
    p = _run(["--workload", "nope", "--seed", "1", "--seconds", "1"])
    assert p.returncode != 0
    assert "usage:" in p.stderr and "pages_rollup" in p.stderr
    assert p.stdout == ""


def test_without_the_program_exits_non_zero(tmp_path):
    shutil.copytree(BENCH, tmp_path / "pipebench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "pages_rollup", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=tmp_path, script=str(tmp_path / "pipebench" / "run.py"))
    assert p.returncode != 0
    assert p.stdout == ""
