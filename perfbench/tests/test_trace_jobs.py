"""The traced run launches as many Spark jobs as the untraced run.

Runs the benchmark with --trace 1, in which even warm passes are traced and
odd ones are not, in one session, and compares the jobs each pass launched.
Reading spans, Catalyst phases and the status store must add no job. For
serve the count covers `api.serve`; the batch iterator runs one job per
AQE-coalesced partition, a number that varies from pass to pass. The serve
itself also launches one job more or fewer now and then without any tracing,
so each traced pass must fall within the untraced passes' range and the
fewest traced jobs may not exceed the untraced median. About three minutes
per workload:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]


def _traced_run(workload: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "45", "--trace", "1"],
        capture_output=True, text=True, cwd=ROOT, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(next(ln for ln in lines if ln.startswith("detail "))[7:])
    return detail, json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["serve", "query_mix"])
def test_traced_and_untraced_passes_launch_the_same_jobs(workload):
    detail, result = _traced_run(workload)
    assert result["correct"], detail["errors"]
    warm = detail["jobs_per_pass"][1:]  # [(jobs, traced)]; pass 0 is cold
    traced = [j for j, t in warm if t]
    untraced = [j for j, t in warm if not t]
    assert traced and len(untraced) >= 2, warm
    assert min(traced) > 0
    assert all(min(untraced) <= j <= max(untraced) for j in traced), warm
    assert min(traced) <= statistics.median(untraced), warm
    assert result["metrics"]["trace.overhead_ratio"]["value"] > 0
