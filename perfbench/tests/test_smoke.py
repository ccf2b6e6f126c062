"""Smoke runs of every workload on sf0.001-sized inputs, through the
same command line the benchmark is run with, plus the check that the
benchmark refuses to run without the package next to it.

    python3 -m pytest perfbench/tests/test_smoke.py -q     (about 3 min)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from run import END_TO_END, PER_LAYER  # noqa: E402


def _run(cwd, workload, trace, *extra, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload, trace", [
    ("bi_curation", 0), ("bi_curation", 1),
    ("lakehouse_writes", 0), ("lakehouse_writes", 1),
])
def test_workload_smoke(workload, trace):
    p = _run(ROOT, workload, trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, p.stdout[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert set(result["metrics"]) == set(want)
    for name, m in result["metrics"].items():
        assert m["unit"] == want[name]
        assert isinstance(m["value"], (int, float))
    if not trace:
        assert all(result["metrics"][k]["value"] > 0 for k in END_TO_END)
        return
    detail_path = os.path.join(BENCH, ".results", f"{workload}-smoke-trace.json")
    with open(detail_path) as f:
        detail = json.load(f)
    assert detail["spans"][0]["name"] == "timed_region"
    assert len(detail["ops"]) == result["attempted"]
    assert "traced_wall_s" in detail["tracing_overhead"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.tasks"] > 0
    if workload == "bi_curation":
        assert m["queries.action_jobs"] > 0 and m["ext.action_jobs"] > 0
        assert m["tables.commit_s"] == 0
    if workload == "lakehouse_writes":
        assert m["tables.commit_jobs"] > 0 and m["streaming.batches"] > 0
        assert m["write_amp"] > 0 and m["space_amp"] > 0


def test_refuses_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/ the
    benchmark exits non-zero at once and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".runs", ".results",
                                                  "__pycache__"))
    p = _run(tmp_path, "bi_curation", 0, timeout=60)
    assert p.returncode != 0
    assert "correct" not in p.stdout
