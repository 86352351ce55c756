"""Count repeatability of the traced pass.

Runs ``run.py --trace 1`` twice per workload with the same seed from the
checkout root and requires the exact counts to repeat.  Counts named in
SPREAD_REPORTED are known not to repeat and are reported as spreads.

    python3 -m pytest perfbench/test_repeat.py -q     # about four minutes
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

COUNTS = ("spark.jobs", "spark.stages", "spark.tasks",
          "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
          "kernels.dp_cells", "neighbors.pairs")
SPREAD_REPORTED: dict[str, tuple[str, ...]] = {}


def traced(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"], proc.stderr[-2000:]
    return {k: v["value"] for k, v in out["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_counts_repeat(workload):
    a, b = traced(workload, 3), traced(workload, 3)
    for key in COUNTS:
        if key in SPREAD_REPORTED.get(workload, ()):
            continue
        assert a[key] == b[key], f"{workload} {key}: {a[key]} vs {b[key]}"
