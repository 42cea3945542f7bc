"""Trace integrity: tracing adds no Spark job and writes its spans.

Each case runs the benchmark once with ``--trace 1``. Such a run
alternates untraced and traced timed passes of identical work, tags
every job of a pass, and reports ``trace.added_jobs`` = jobs of a
traced pass minus jobs of an untraced one. Run with

    python3 -m pytest perfbench/test_trace.py -q

(about a minute per workload on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 3


@pytest.mark.parametrize("workload", ["sql_analytics", "curation"])
def test_traced_pass_issues_as_many_jobs_as_untraced(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])
    assert result["correct"] and result["failed"] == 0
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert metrics["trace.added_jobs"] == 0

    timed = [p for p in detail["passes"] if p["kind"] == "timed"]
    traced = [p["jobs"] for p in timed if p["traced"]]
    untraced = [p["jobs"] for p in timed if not p["traced"]]
    assert traced and untraced
    assert set(traced) == set(untraced) and traced[0] > 0
    assert metrics["spark.jobs"] == traced[0]

    with open(os.path.join(ROOT, ".perfbench",
                           f"trace-{workload}-seed{SEED}.json")) as fh:
        trace = json.load(fh)
    layers = {span[2] for span in trace["spans"]}
    assert "catalog" in layers
    if workload == "curation":
        assert {"plans", "sinks", "materialize", "operators.dedup"} <= layers
