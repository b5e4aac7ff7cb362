"""Count determinism: two traced runs with the same seed report equal counts.

Counts are what a later change may cite as exact evidence, so they must
repeat to the last digit. Run from the checkout root (about five minutes):

    python3 -m pytest perfbench/test_counts.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COUNTS = [
    "wand.postings_scored_per_search",
    "wand.driver_postings_decoded_per_search",
    "wand.spark_jobs_per_search",
    "phrase.spark_jobs_per_query",
    "phrase.candidates_per_match",
    "hydrate.spark_jobs_per_query",
    "append.spark_jobs_per_batch",
    "append.compactions",
    "purge.spark_jobs",
    "build.spark_jobs",
    "segments.generations_max",
    # index bytes per directory; manifests (which hold commit timestamps)
    # are not in any of them
    "storage.bytes_per_content_byte.documents",
    "storage.bytes_per_content_byte.segments",
    "storage.bytes_per_content_byte.terms",
    "storage.bytes_per_content_byte.runs",
]


def _traced_counts(workload: str, seed: int) -> dict[str, float]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    metrics = json.loads(p.stdout.splitlines()[-1])["metrics"]
    return {name: metrics[name]["value"] for name in COUNTS}


@pytest.mark.parametrize("workload", ["serve_hot", "serve_cold"])
def test_counts_repeat_exactly(workload):
    assert _traced_counts(workload, 7) == _traced_counts(workload, 7)
