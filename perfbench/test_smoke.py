"""The benchmark's own test: every workload at tiny size, traced, with
every metric of BENCHMARK.json present and every output check passing."""

import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def test_smoke():
    proc = subprocess.run([sys.executable, str(HERE / "run.py"), "--smoke"],
                          cwd=HERE.parent, capture_output=True, text=True,
                          timeout=1200)
    assert proc.returncode == 0, proc.stdout[-4000:]
