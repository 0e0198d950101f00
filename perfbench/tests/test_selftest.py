"""Self-test of the benchmark: both workloads end to end on tiny inputs.

    python3 -m pytest perfbench/tests -q

Each case is one real benchmark run (a fresh JVM) at scale 0.001 with a
one-second budget (one timed pass), so the suite takes a few minutes.
The runs check that

- every end-to-end metric prints by name with its unit, and the result
  JSON carries exactly the metrics BENCHMARK.json declares for the mode;
- an injected raising item and an injected output mismatch each count as
  failed items, and flip ``correct``;
- an uninjected run is correct with no failures.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

E2E_UNITS = {"setup_s": "s", "norm_wall_s": "s", "failed_share": "share",
             "jvm_peak_rss_mb": "MB"}


def run_bench(workload: str, trace: int, inject: str = "") -> tuple[str, dict]:
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "0.001",
    ]
    if inject:
        cmd += ["--inject", inject]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return lines[-2], json.loads(lines[-1])


def expected(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


def check_summary(summary: str) -> None:
    printed = dict(re.findall(r"(\w+)=([-0-9.e+]+[A-Za-z%/]*)", summary))
    for name, unit in E2E_UNITS.items():
        assert name in printed, f"{name} missing from {summary!r}"
        assert printed[name].endswith(unit), (name, printed[name])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_injected_failures_count(workload):
    summary, res = run_bench(workload, trace=1, inject="raise,mismatch")
    check_summary(summary)
    units = {k: v["unit"] for k, v in res["metrics"].items()}
    assert units == expected("per_layer")
    # one pass of untraced item runs: the raising item and the mismatching
    # item each fail once
    assert res["failed"] == 2, res
    assert res["correct"] is False
    assert res["attempted"] >= 2


def test_clean_run_is_correct():
    summary, res = run_bench("query_battery", trace=0)
    check_summary(summary)
    units = {k: v["unit"] for k, v in res["metrics"].items()}
    assert units == expected("end_to_end")
    assert res["correct"] is True and res["failed"] == 0
    assert all(v["value"] > 0 for v in res["metrics"].values())
