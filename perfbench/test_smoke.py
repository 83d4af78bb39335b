"""Smoke test of the benchmark: every workload at the tiny input size
(the row counts of the smallest test scale factor), untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each run must pass every output check and print every metric that
``BENCHMARK.json`` names, with its unit; the detail line must carry the
workload's own figures. About ten minutes on 4 cores.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

#: Figures each workload reports in its detail line, beside the metrics.
REPORT_KEYS = {
    "etl_reference": {"query_first_s", "query_steady_s"},
    "dedup_corpus": {"query_first_s", "query_steady_s"},
    "serve_hybrid": {"query_p50_s", "query_tail_s", "query_tail_pct",
                     "query_tail_samples_beyond", "queries_per_s"},
    "ingest_churn": {"append_p50_s", "delete_p50_s", "compact_p50_s",
                     "read_after_write_p50_s", "bytes_per_live_byte"},
}


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_runs_checked_and_reports_every_metric(workload, trace):
    out = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
               "--trace", str(trace), "--scale", "tiny")
    assert out.returncode == 0, out.stderr[-4000:]
    *_, detail, last = out.stdout.strip().splitlines()
    detail, result = json.loads(detail), json.loads(last)

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["problems"]
    assert result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    assert REPORT_KEYS[workload] <= set(detail["report"])
    assert detail["peak_rss_mb"] > 0
    for key in ("nproc", "master", "driver_heap", "calibration_s"):
        assert detail["host"][key], key
    if trace:
        assert result["metrics"]["trace.span_coverage"]["value"] > 0.9


def test_fails_without_the_library():
    bare = ROOT / ".perfbench_work" / "without-library"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = _run(bare, "--workload", "etl_reference", "--seed", "1",
                   "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
