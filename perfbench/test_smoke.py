"""Smoke test of the benchmark itself at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced with ``--scale tiny``.
The test asserts that every metric is emitted with its unit (the JSON
line carries exactly the end-to-end or per-layer metrics of
``BENCHMARK.json``; the report lines carry every end-to-end metric,
gated or not) and that ``error_ratio`` is 0.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

REPORTED = {
    "setup_s": "s",
    "setup_s_unadjusted": "s",
    "ops_per_s": "1/s",
    "ops_per_s_unadjusted": "1/s",
    "peak_rss_mb": "MB",
    "error_ratio": "ratio",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
}
TSDB_REPORTED = {
    "write_rows_per_s": "rows/s",
    "write_p50_ms": "ms",
    "write_tail_ms": "ms",
    "maintenance_s": "s",
    "bytes_per_row": "B",
}


def _run(workload: str, trace: int) -> tuple[dict, dict[str, tuple[float, str]]]:
    out = subprocess.run(
        [
            sys.executable, os.path.join("perfbench", "run.py"),
            "--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--scale", "tiny",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    lines = {}
    for line in out:
        m = re.fullmatch(r"(\S+) = (\S+) (\S+)", line)
        if m:
            lines[m.group(1)] = (float(m.group(2)), m.group(3))
    return json.loads(out[-1]), lines


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted_and_no_errors(workload, trace):
    result, lines = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    expected = dict(REPORTED, **(TSDB_REPORTED if workload == "tsdb_mixed" else {}))
    assert {k: lines[k][1] for k in expected} == expected
    assert lines["error_ratio"][0] == 0
    for name, unit in expected.items():
        if name != "error_ratio":
            assert lines[name][0] > 0, name
