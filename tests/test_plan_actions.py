"""Spark actions per plan-lifecycle stage.

``run_from_plan`` runs one action per stage: the DQ aggregate counts the
persisted frame, the parquet sinks reuse that count instead of recounting,
the quarantine split takes its count during its own write, and a drained
stream is gated by one scan of its artifact.  These tests pin

- the exact number of Spark jobs each plan shape runs, counted through a
  test-owned job group (an added action shows up as a diff here);
- the ``row_count`` parameter of the parquet sinks: same message, same
  table, no count;
- the stream tail's single-scan gates: the result dicts equal the ones
  the two separate gate calls (``dq_check`` then ``verify_parquet`` on the
  artifact) produce.
"""

from __future__ import annotations

import json
import os

import pytest

from agentic_etl_poc_spark.operators.quality import dq_check
from agentic_etl_poc_spark.runtime import run_from_plan
from agentic_etl_poc_spark.sinks.parquet_sink import (
    read_table,
    upsert_parquet,
    verify_parquet,
    write_parquet,
)

_GROUP_KEYS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def _count_jobs(spark, group: str, fn):
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


def _run(spark, text):
    alerts: list[str] = []
    res = run_from_plan(
        spark,
        text,
        send_alert=lambda ch, msg: alerts.append(msg) or "sent",
        report_status=lambda step, detail: "ok",
    )
    return res, alerts


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _stage_topic(path, n=40):
    """An NDJSON topic of ``n`` events from 2024-01-01; every ninth
    ``user_id`` is null and a quarter of the rows are ``error`` events."""
    os.makedirs(path)
    with open(os.path.join(path, "tick1.json"), "w") as f:
        for i in range(n):
            f.write(json.dumps({
                "event_id": i,
                "ts": f"2024-01-01T00:{i % 60:02d}:00",
                "user_id": None if i % 9 == 0 else i % 3,
                "event_type": ["click", "view", "error", "purchase"][i % 4],
                "value": 1.5 * i,
                "props": "{}",
            }) + "\n")
    return str(path)


def _stream_plan(topic, out, gates: str) -> str:
    return f"""
source:
  kind: stream
  stream:
    path: {topic}
    schema: "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    watermark_col: ts
transform:
  sql: |
    SELECT event_id, user_id, event_type, ts, value FROM input_df
    WHERE event_type IN ('click', 'view', 'purchase')
load:
  to: parquet
  file_path: {out}
alerts:
  on_fail: "slack://#x"
{gates}"""


# -- jobs per plan shape ---------------------------------------------------
def _orders(sf_smoke):
    return f"""
source:
  kind: parquet
  parquet:
    path: {sf_smoke}/orders.parquet
"""


def test_jobs_quarantine_plan(spark, sf_smoke, tmp_path):
    """Source schema inference 1; the quarantine write, which builds the
    persisted frame and observes its row count, 1; DQ aggregate 2; sink
    write 1; verify re-read: schema inference 1 + aggregate 2."""
    bad, clean = tmp_path / "bad", tmp_path / "clean"
    (res, alerts), jobs = _count_jobs(spark, "plan-quarantine", lambda: _run(
        spark,
        _orders(sf_smoke) + f"""
transform:
  sql: |
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS priority
    FROM input_df
checks:
  min_rows: 1
  nonnull_cols: [priority]
  quarantine_path: {bad}
load:
  to: parquet
  file_path: {clean}
""",
    ))
    assert res["status"] == "ok" and not alerts, res
    n_bad = spark.read.parquet(str(bad)).count()
    assert res["dq"]["quarantined"] == n_bad > 0
    assert res["dq"]["rows"] + n_bad == 1500
    assert jobs == 8


def test_jobs_parquet_overwrite_plan(spark, sf_smoke, tmp_path):
    """Source schema inference 1; DQ aggregate 3 (the first action also
    builds the persisted frame); sink write 1, no recount; verify
    re-read: schema inference 1 + aggregate 2."""
    out = tmp_path / "ow"
    (res, _), jobs = _count_jobs(spark, "plan-overwrite", lambda: _run(
        spark,
        _orders(sf_smoke) + f"""
transform:
  sql: SELECT o_orderkey, o_orderpriority, o_totalprice FROM input_df
checks:
  min_rows: 1
  nonnull_cols: [o_orderkey]
load:
  to: parquet
  file_path: {out}
""",
    ))
    assert res["status"] == "ok", res
    assert res["message"] == f"wrote 1,500 rows to {out} (parquet)"
    assert jobs == 8


def test_jobs_parquet_upsert_plan(spark, sf_smoke, tmp_path):
    """An upsert into an existing table: the batch is not recounted
    before the commit (the DQ count already ran before it)."""
    out = tmp_path / "up"
    plan = _orders(sf_smoke) + f"""
transform:
  sql: |
    SELECT o_orderkey, year(o_orderdate) AS yr, o_totalprice
    FROM input_df WHERE o_orderkey % {{m}} = 0
checks:
  min_rows: 1
load:
  to: parquet
  file_path: {out}
  mode: upsert
  key_cols: [o_orderkey]
  partition_by: [yr]
"""
    assert _run(spark, plan.replace("{m}", "3"))[0]["status"] == "ok"
    (res, _), jobs = _count_jobs(
        spark, "plan-upsert", lambda: _run(spark, plan.replace("{m}", "5"))
    )
    assert res["status"] == "ok", res
    assert res["message"].startswith(f"upserted 300 rows into {out} ")
    assert res["verify"]["rows"] == 700  # 500 + 300 - 100 shared keys
    assert jobs == 14


def test_jobs_stream_plan(spark, tmp_path):
    """The drain's micro-batch jobs carry the stream's own job group;
    what runs in the caller's group is the gate: one artifact schema
    inference and one aggregate (2 jobs) for DQ and verify together."""
    topic = _stage_topic(tmp_path / "topic")
    out = tmp_path / "out"
    (res, alerts), jobs = _count_jobs(spark, "plan-stream", lambda: _run(
        spark,
        _stream_plan(topic, out, "checks:\n  min_rows: 1\n  nonnull_cols: [event_id, ts]\n"),
    ))
    assert res["status"] == "ok" and not alerts, res
    assert res["dq"]["rows"] == res["verify"]["rows"] == 30
    assert jobs == 3


def test_jobs_dq_rejected_plan(spark, sf_smoke, tmp_path):
    """Source schema inference 1 + DQ aggregate 3, then the pre-load
    abort: nothing written, one alert."""
    out = tmp_path / "rej"
    (res, alerts), jobs = _count_jobs(spark, "plan-reject", lambda: _run(
        spark,
        f"""
source:
  kind: parquet
  parquet:
    path: {sf_smoke}/customer.parquet
transform:
  sql: |
    SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
    FROM input_df
checks:
  min_rows: 1
  nonnull_cols: [bal]
load:
  to: parquet
  file_path: {out}
alerts:
  on_fail: "slack://#x"
""",
    ))
    assert res == {
        "status": "failed",
        "dq": {"rows": 150, "status": False, "error": "nonnull check failed: bal"},
    }
    assert len(alerts) == 1
    assert not out.exists()
    assert jobs == 4


# -- row_count on the parquet sinks -----------------------------------------
@pytest.fixture
def no_count(monkeypatch, spark):
    """Make any ``DataFrame.count()`` raise while active."""
    cls = type(spark.range(1))

    def boom(self):
        raise AssertionError("count() called although row_count was given")

    return lambda: monkeypatch.setattr(cls, "count", boom)


def _batch(spark, lo, hi):
    return spark.sql(
        f"SELECT id, CAST(id % 3 AS INT) AS yr, id * 10 AS v FROM range({lo}, {hi})"
    )


def test_write_parquet_row_count_skips_count(spark, tmp_path, no_count):
    df = _batch(spark, 0, 50)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    msg_a, jobs_a = _count_jobs(spark, "wp-none", lambda: write_parquet(df, a))
    no_count()
    msg_b, jobs_b = _count_jobs(
        spark, "wp-given", lambda: write_parquet(df, b, row_count=50)
    )
    assert msg_b == msg_a.replace(a, b) == f"wrote 50 rows to {b} (parquet)"
    assert _rows(spark.read.parquet(b)) == _rows(spark.read.parquet(a))
    assert jobs_b < jobs_a


def test_upsert_parquet_row_count_skips_count(spark, tmp_path, no_count):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    base, batch = _batch(spark, 0, 30), _batch(spark, 20, 45)

    # bootstrap, then a merge into the existing table, without row_count
    boot_a = upsert_parquet(base, a, ["id"], ["yr"])
    merge_a, jobs_a = _count_jobs(
        spark, "up-none", lambda: upsert_parquet(batch, a, ["id"], ["yr"])
    )
    no_count()
    boot_b = upsert_parquet(base, b, ["id"], ["yr"], row_count=30)
    merge_b, jobs_b = _count_jobs(
        spark, "up-given",
        lambda: upsert_parquet(batch, b, ["id"], ["yr"], row_count=25),
    )
    assert boot_b == boot_a.replace(a, b)
    assert merge_b == merge_a.replace(a, b)
    assert merge_b.startswith(f"upserted 25 rows into {b} ")
    assert _rows(read_table(spark, b)) == _rows(read_table(spark, a))
    assert len(_rows(read_table(spark, b))) == 45
    assert jobs_b < jobs_a


def test_write_parquet_upsert_mode_forwards_row_count(spark, tmp_path, no_count):
    no_count()
    out = str(tmp_path / "t")
    msg = write_parquet(
        _batch(spark, 0, 9), out, mode="upsert", partition_by=["yr"],
        key_cols=["id"], row_count=9,
    )
    assert msg == f"upserted 9 rows into {out} (parquet COW: bootstrap)"


# -- the stream tail's single-scan gates ------------------------------------
def _same_verdict(got: dict, want: dict) -> None:
    """Equal dicts; ``lag_minutes`` (measured against the clock at each
    call) within a minute, and the freshness error text by prefix."""
    got, want = dict(got), dict(want)
    if "lag_minutes" in want:
        assert abs(got.pop("lag_minutes") - want.pop("lag_minutes")) < 1.0
        if str(want.get("error", "")).startswith("freshness"):
            assert got.pop("error").startswith("freshness check failed: lag ")
            want.pop("error")
    assert got == want


@pytest.mark.parametrize(
    "case, gates, verdict, dq_kw, ver_kw",
    [
        (
            "dq_fails",
            "checks:\n  min_rows: 1\n  nonnull_cols: [user_id]\n",
            "dq",
            {"min_rows": 1, "nonnull_cols": ["user_id"]},
            None,
        ),
        (
            "verify_only_col_has_nulls",
            "checks:\n  min_rows: 1\n  nonnull_cols: [event_id]\n"
            "verify:\n  nonnull_cols: [user_id]\n",
            "verify",
            {"min_rows": 1, "nonnull_cols": ["event_id"]},
            {"min_rows": 1, "nonnull_cols": ["user_id"]},
        ),
        (
            "nonnull_col_missing",
            "checks:\n  min_rows: 1\n  nonnull_cols: [event_id, nope]\n",
            "dq",
            {"min_rows": 1, "nonnull_cols": ["event_id", "nope"]},
            None,
        ),
        (
            "freshness_fails",
            "checks:\n  min_rows: 1\n  nonnull_cols: [event_id]\n"
            "  freshness_minutes: 60\n  timestamp_col: ts\n",
            "dq",
            {"min_rows": 1, "nonnull_cols": ["event_id"],
             "freshness_minutes": 60, "timestamp_col": "ts"},
            None,
        ),
        (
            "freshness_passes",
            "checks:\n  min_rows: 1\n  nonnull_cols: [event_id]\n"
            "  freshness_minutes: 1000000000\n  timestamp_col: ts\n",
            "ok",
            {"min_rows": 1, "nonnull_cols": ["event_id"],
             "freshness_minutes": 1000000000, "timestamp_col": "ts"},
            {"min_rows": 1, "nonnull_cols": ["event_id"]},
        ),
        (
            "verify_col_missing_is_skipped",
            "checks:\n  min_rows: 1\nverify:\n  nonnull_cols: [nope, event_id]\n",
            "ok",
            {"min_rows": 1},
            {"min_rows": 1, "nonnull_cols": ["nope", "event_id"]},
        ),
    ],
)
def test_stream_tail_gates_match_separate_gates(
    spark, tmp_path, case, gates, verdict, dq_kw, ver_kw
):
    topic = _stage_topic(tmp_path / "topic")
    out = tmp_path / "out"
    res, alerts = _run(spark, _stream_plan(topic, out, gates))

    artifact = spark.read.parquet(str(out))
    want_dq = dq_check(artifact, **dq_kw)
    if verdict == "dq":
        assert res["status"] == "failed" and set(res) == {"status", "dq"}, res
        _same_verdict(res["dq"], want_dq)
        assert len(alerts) == 1 and alerts[0].startswith("DQ failed: ")
        return
    want_ver = verify_parquet(spark, str(out), **ver_kw)
    if verdict == "verify":
        assert res == {"status": "failed", "verify": want_ver}, res
        assert want_ver["error"] == "null values in user_id"
        assert len(alerts) == 1 and alerts[0].startswith("Verify failed: ")
        return
    assert res["status"] == "ok" and not alerts, res
    _same_verdict(res["dq"], want_dq)
    assert res["verify"] == want_ver
