"""Repeatability self-check of the live-job benchmark.

Two traced runs with the same seed must report identical counters: the
Spark job and codegen counts per batch, the protocol's models and bytes
shipped, the state operator's row count and the holdout accuracy. A
counter that moves between identical runs cannot carry a claim.

Run from the repository root (takes a few minutes per workload):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(os.path.dirname(HERE), "run.py")
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

from workloads import WORKLOADS  # noqa: E402

COUNTERS = (
    "spark.jobs_per_batch",
    "spark.codegen_compiles_per_batch",
    "learners.protocols.models_shipped",
    "learners.protocols.bytes_shipped",
    "streaming.stateful.state_rows",
)


def _traced(workload: str, seed: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    report, result = (json.loads(x) for x in proc.stdout.splitlines()[-2:])
    assert result["correct"], report["problems"]
    return report, result["metrics"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_same_counters(workload):
    (rep1, m1), (rep2, m2) = _traced(workload, 7), _traced(workload, 7)
    for name in COUNTERS:
        assert m1[name]["value"] == m2[name]["value"], name
    assert rep1["holdout_accuracy"] == rep2["holdout_accuracy"]
