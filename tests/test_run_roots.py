"""Entries that write per-run output keep one run root each.

p03, p07, p09, v11, v14, v15, v16 and u10 work in a fresh temp dir per
call (``queries/core.py::run_root``); the previous call's dir goes when the
next call of the same entry starts, so repeated calls do not pile up dirs,
and the last one goes when the process exits.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest

from agentic_etl_poc_spark.queries import load_all
from tests.conftest import REPO_ROOT

ALL = load_all()


@pytest.mark.parametrize(
    "name", ["p07_plan_quarantine", "v11_stream_upsert_sink"]
)
def test_repeated_calls_leave_one_run_root(spark, sf_smoke, tmp_path, monkeypatch, name):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    tag = f"{name[:3]}_"

    def roots():
        return [d for d in os.listdir(tmp_path) if tag in d]

    first = ALL[name].fn(spark, sf_smoke)
    assert len(roots()) == 1
    want = sorted(first.collect())  # readable until the next call
    second = ALL[name].fn(spark, sf_smoke)
    assert len(roots()) == 1
    assert sorted(second.collect()) == want


def test_last_run_roots_removed_at_exit(tmp_path):
    script = f"""
import os, tempfile
tempfile.tempdir = {str(tmp_path)!r}
from agentic_etl_poc_spark.queries.core import run_root
for tag in ("p07", "v14"):
    root = run_root(tag, "sf")
    open(os.path.join(root, "part-0"), "w").close()
assert len(os.listdir(tempfile.tempdir)) == 2
"""
    subprocess.run([sys.executable, "-c", script], cwd=REPO_ROOT, check=True)
    assert os.listdir(tmp_path) == []
