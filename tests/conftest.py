from __future__ import annotations

import os
import sys
import tempfile

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from agentic_etl_poc_spark.session import get_spark

    s = get_spark(app_name="agentic-etl-poc-spark-tests")
    yield s
    s.stop()


@pytest.fixture
def fresh_read_memo(spark):
    """Empty the session's parquet read memo (``io_tables.read_parquet``),
    so a test's first read of a source infers its schema whatever ran
    before it."""
    from agentic_etl_poc_spark import io_tables

    io_tables._HANDLES.pop(spark, None)


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


def formatted_plan(df) -> str:
    """Formatted physical plan of a DataFrame (shared by the plan-shape
    and plan-lint suites — keep ONE copy of the ExplainMode reflection)."""
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


_GROUP_KEYS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def count_jobs(spark, group: str, fn):
    """Run ``fn()`` with every job it submits from this thread tagged
    ``group``; return (result, number of jobs in the group)."""
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(k) for k in _GROUP_KEYS]
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in zip(_GROUP_KEYS, saved):
            sc.setLocalProperty(k, v)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def count_spawns(spark, fn):
    """Run ``fn()`` under an in-JVM JFR recording of ``jdk.ProcessStart``;
    return (result, command line of every process the driver JVM started
    meanwhile, executors included on a ``local`` master)."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    try:
        rec.enable("jdk.ProcessStart")
        rec.start()
        try:
            out = fn()
        finally:
            rec.stop()
        fd, dump = tempfile.mkstemp(suffix=".jfr")
        os.close(fd)
        try:
            path = jvm.java.io.File(dump).toPath()
            rec.dump(path)
            events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)
            return out, [e.getString("command") for e in events]
        finally:
            os.remove(dump)
    finally:
        rec.close()


def chmods(commands) -> list[str]:
    """The ``chmod`` processes among ``count_spawns`` commands."""
    return [c for c in commands if c.startswith("chmod ")]
