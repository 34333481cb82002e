"""Smoke test of the traced benchmark path: ``perfbench/run.py --trace 1``
calls the library operators one by one (``Link.traced``, ``Curate.traced``),
so an API break in any of them fails here, not only in a benchmark run."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["link", "curate"])
def test_traced_run_exits_zero_with_json(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    last = proc.stdout.strip().splitlines()[-1]
    assert isinstance(json.loads(last), dict), last
