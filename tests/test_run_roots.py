"""Entries that write per-run output keep one run root each.

p03, p07, p09, v11, v14, v15, v16 and u10 work in a fresh temp dir per
call (``queries/core.py::run_root``) under the process's own
``<tmp>/spark_graft_run_<pid>/``; the previous call's dir goes when the
next call of the same entry starts, so repeated calls do not pile up dirs,
and the last one goes when the process exits.  A killed process runs no
exit hook: the next process to make a run root removes its dir.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import tempfile
import time

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
        own = tmp_path / f"spark_graft_run_{os.getpid()}"
        return [d for d in os.listdir(own) if d.startswith(tag)]

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
own, = os.listdir(tempfile.tempdir)
assert own == f"spark_graft_run_{{os.getpid()}}"
assert len(os.listdir(os.path.join(tempfile.tempdir, own))) == 2
"""
    subprocess.run([sys.executable, "-c", script], cwd=REPO_ROOT, check=True)
    assert os.listdir(tmp_path) == []


def test_killed_process_roots_reaped_by_next(tmp_path, sf_smoke):
    """A vanilla session, so that the killed JVM never records a CDS
    archive (``session.cds_launch``) as it exits."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    script = f"""
import sys, time
from pyspark.sql import SparkSession
from agentic_etl_poc_spark.queries import load_all
spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
q = load_all()
for name in ("p07_plan_quarantine", "v11_stream_upsert_sink", "u10_python_stream_writer"):
    q[name].fn(spark, {sf_smoke!r}).collect()
print(spark._jvm.java.lang.ProcessHandle.current().pid(), flush=True)
time.sleep(600)
"""
    victim = subprocess.Popen(
        [sys.executable, "-c", script], cwd=REPO_ROOT, env=env,
        stdout=subprocess.PIPE, text=True,
    )
    try:
        jvm = int(victim.stdout.readline())
    finally:
        victim.kill()
        victim.wait(timeout=30)
    # the orphaned JVM exits on its stdin's EOF
    deadline = time.monotonic() + 60
    while os.path.exists(f"/proc/{jvm}") and time.monotonic() < deadline:
        time.sleep(0.2)
    if os.path.exists(f"/proc/{jvm}"):
        os.kill(jvm, signal.SIGKILL)
    own = tmp_path / f"spark_graft_run_{victim.pid}"
    assert sorted(d.split("_")[0] for d in os.listdir(own)) == ["p07", "u10", "v11"]

    subprocess.run(
        [sys.executable, "-c",
         "from agentic_etl_poc_spark.queries.core import run_root; run_root('x01', 'sf')"],
        cwd=REPO_ROOT, env=env, check=True,
    )
    assert not own.exists()
    assert not [d for d in os.listdir(tmp_path) if d.startswith("spark_graft_run_")]
