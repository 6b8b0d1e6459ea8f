"""The examples/ scripts run clean end-to-end (the reference's CI runs its
example scripts the same way, `.github/workflows/test.yml:29-35`).

Soak tier (r15, VERDICT r14 #2): each script boots its own Spark session
via spark-submit — ~430s for the 13 scripts, a third of the whole default
suite — and everything they exercise is covered unit-wise by the fast
tier. Run with `pytest -m soak`."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.soak


@pytest.mark.parametrize(
    "script",
    ["example_fold.py", "example_scan.py", "example_pipeline.py",
     "example_multimodal.py", "example_dedup_sketch.py",
     "example_cdc_sketch.py", "example_training_layout.py",
     "example_streaming_ingest_dedup.py", "example_retrieval_rank.py",
     "example_quality_curation.py", "example_decision_science.py",
     "example_product_analytics.py", "example_eval_statistics.py"],
)
def test_example_runs(script):
    proc = subprocess.run(
        [sys.executable, f"examples/{script}"],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
