"""The examples/ walkthroughs are living documentation — run them.

Each spins its own SparkSession in a subprocess (they are user-facing
scripts, not library code), so a broken import, renamed operator, or
changed signature fails CI here instead of rotting silently.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tests.conftest import TEST_DRIVER_MEM

REPO = os.path.join(os.path.dirname(__file__), "..")


@pytest.mark.parametrize(
    "script, expect",
    [
        ("examples/cdc_to_scd2.py", "streamed history rows: 5"),
        ("examples/clean_corpus.py", "sampled"),
        ("examples/similarity_search.py", "IVF probe"),
        ("examples/assemble_dataset.py", "oversize routed to chunking"),
        ("examples/tokenizer_dataset.py", "byte-level recount:"),
        ("examples/monitoring_pipeline.py", "rollup equals recompute over accepted batches: True"),
        ("examples/late_events.py", "invariant violations after splice: 0"),
        ("examples/hot_key_windows.py", "scd2_build_skewed equals scd2_build: True"),
        ("examples/multimodal_features.py", "perceptual near-dup: kept 10/40 variant images"),
    ],
)
def test_example_runs(script, expect):
    proc = subprocess.run(
        [sys.executable, script],
        cwd=REPO,
        # the examples' get_spark takes its heap from here (48g otherwise)
        env={"SPARK_GRAFT_DRIVER_MEM": TEST_DRIVER_MEM, **os.environ},
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert expect in proc.stdout, proc.stdout[-2000:]
