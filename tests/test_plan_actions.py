"""Spark actions per plan-lifecycle stage.

``run_from_plan`` runs one action per stage: a batch load's DQ gate reads
its numbers off the batch's first action (the stage write, or a parquet
upsert's scan of its touched partitions), the quarantine split, its DQ
gate and its parquet load are one partitioned write, and a drained
stream is gated by one scan of its artifact.  Every scanning gate (DQ,
verify, the stream tail) is one job: its aggregates are observed on a
``noop`` scan (``quality.observed_scan``).  These tests pin

- the exact number of Spark jobs each plan shape runs, counted through a
  test-owned job group (an added action shows up as a diff here);
- the ``row_count`` parameter of the parquet sinks: same message, same
  table, no count;
- the stream tail's single-scan gates: the result dicts equal the ones
  the two separate gate calls (``dq_check`` then ``verify_parquet`` on the
  artifact) produce.

Every test starts with an empty parquet read memo (``io_tables``), so a
first run pays its source's schema inference whatever ran before it.
"""

from __future__ import annotations

import datetime as dt
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
from tests.conftest import chmods, count_spawns
from tests.conftest import count_jobs as _count_jobs

pytestmark = pytest.mark.usefixtures("fresh_read_memo")


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


def _quarantine_plan(sf_smoke, bad, clean) -> str:
    return _orders(sf_smoke) + f"""
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
"""


def test_jobs_quarantine_plan(spark, sf_smoke, tmp_path):
    """Source schema inference 1; the quarantine write 1, partitioned by
    the violation flag, which observes the quarantined count and the DQ
    gate's clean-row metrics and is also the sink write; verify re-read
    of the clean half with the written schema: scan 1.  The second run
    reads its source from the memo: one job fewer."""
    bad, clean = tmp_path / "bad", tmp_path / "clean"
    plan = _quarantine_plan(sf_smoke, bad, clean)
    for group, want in (("plan-quarantine", 3), ("plan-quarantine-warm", 2)):
        (res, alerts), jobs = _count_jobs(spark, group, lambda: _run(spark, plan))
        assert res["status"] == "ok" and not alerts, res
        n_bad = spark.read.parquet(str(bad)).count()
        assert res["dq"]["quarantined"] == n_bad > 0
        assert res["dq"]["rows"] + n_bad == 1500
        assert jobs == want, group


def test_quarantine_plan_spawns_no_chmod(spark, sf_smoke, tmp_path):
    """The quarantine write (the DQ gate too) and the sink create their
    files and dirs without a ``chmod`` process (``session.local_fs_conf``)."""
    plan = _quarantine_plan(sf_smoke, tmp_path / "bad", tmp_path / "clean")
    _run(spark, plan)
    (res, _), commands = count_spawns(spark, lambda: _run(spark, plan))
    assert res["status"] == "ok", res
    assert chmods(commands) == []


def test_jobs_parquet_overwrite_plan(spark, sf_smoke, tmp_path):
    """Source schema inference 1; stage write 1, which observes the DQ
    gate's metrics, so the gate runs no scan of its own; verify re-read
    of the stage with the written schema: scan 1."""
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
    assert jobs == 3


def test_jobs_append_plan_gate_cannot_reject(spark, sf_smoke, tmp_path):
    """An append whose gate cannot reject (``min_rows: 0``, no nonnull or
    freshness check): source schema inference 1; stage write 1, which
    observes the gate's row count; verify re-read 1."""
    out = tmp_path / "inc"
    (res, _), jobs = _count_jobs(spark, "plan-append", lambda: _run(
        spark,
        _orders(sf_smoke) + f"""
transform:
  sql: SELECT o_orderkey, o_orderdate, o_totalprice FROM input_df
checks:
  min_rows: 0
load:
  to: parquet
  file_path: {out}
  mode: append
""",
    ))
    assert res["status"] == "ok", res
    assert res["dq"] == {"rows": 1500, "status": True, "error": None}
    assert res["message"] == f"wrote 1,500 rows to {out} (parquet)"
    assert jobs == 3


def test_jobs_parquet_upsert_plan(spark, sf_smoke, tmp_path):
    """An upsert into an existing table, staged like every batch load:
    the touched partitions 1 (an observed ``noop`` scan of the batch,
    which also builds the merge's persisted batch and carries the DQ
    gate's metrics, so the gate runs no scan of its own); the target's
    schema 1; the merge's stage write with its query stages 4; verify
    re-read of the stage with the schema the merge wrote: scan 1.  The
    batch is not counted (the gate's observed count is the message's),
    and the source comes from the memo the first run filled.  Verify
    counts the rewritten partitions; this batch touches every year."""
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
    assert jobs == 7


def test_jobs_jdbc_plan(spark, sf_smoke, tmp_path):
    """A Derby load, staged like every batch load: source schema
    inference 1 (the second run reads its source from the memo); the
    stage table's write 1, which observes the DQ gate's metrics; verify
    1, one query pushed down into Derby over the stage table.  The
    publish is one transaction inside Derby: no Spark job."""
    from agentic_etl_poc_spark.queries.pipeline import derby_url

    plan = _orders(sf_smoke) + f"""
transform:
  sql: SELECT o_orderkey, o_custkey, o_totalprice FROM input_df
checks:
  min_rows: 1
  nonnull_cols: [o_orderkey]
load:
  to: postgres
  conn_str: "{derby_url(str(tmp_path / "db"), create=True)}"
  table: jobs_tgt
  mode: append
"""
    for group, want in (("plan-jdbc", 3), ("plan-jdbc-warm", 2)):
        (res, _), jobs = _count_jobs(spark, group, lambda: _run(spark, plan))
        assert res["status"] == "ok", res
        assert res["message"] == "loaded 1,500 rows into jobs_tgt (append)"
        assert res["verify"]["rows"] == 1500
        assert jobs == want, group


def test_jobs_stream_plan(spark, tmp_path):
    """The drain's micro-batch jobs carry the stream's own job group;
    what runs in the caller's group is the gate: one observed scan (1
    job) of the artifact, read with the stream's schema, for DQ and
    verify together."""
    topic = _stage_topic(tmp_path / "topic")
    out = tmp_path / "out"
    (res, alerts), jobs = _count_jobs(spark, "plan-stream", lambda: _run(
        spark,
        _stream_plan(topic, out, "checks:\n  min_rows: 1\n  nonnull_cols: [event_id, ts]\n"),
    ))
    assert res["status"] == "ok" and not alerts, res
    assert res["dq"]["rows"] == res["verify"]["rows"] == 30
    assert jobs == 1


def test_jobs_dq_rejected_plan(spark, sf_smoke, tmp_path):
    """Source schema inference 1 + the stage write 1, which observes the
    DQ gate's metrics; the gate then rejects: the stage is deleted, the
    target never written, one alert.  The second run reads its source
    from the memo: 1 job."""
    out = tmp_path / "rej"
    plan = f"""
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
"""
    for group, want in (("plan-reject", 2), ("plan-reject-warm", 1)):
        (res, alerts), jobs = _count_jobs(spark, group, lambda: _run(spark, plan))
        assert res == {
            "status": "failed",
            "dq": {"rows": 150, "status": False, "error": "nonnull check failed: bal"},
        }
        assert len(alerts) == 1
        assert os.listdir(tmp_path) == []
        assert jobs == want, group


def test_traced_names_resolve():
    """Every name the benchmark's tracer wraps (``perfbench/trace.py``)
    still resolves to a callable at the path it is wrapped at: a dropped
    or renamed one makes ``Tracer.install_wrappers`` raise, and the
    traced benchmark run fail."""
    import functools
    import importlib

    from perfbench.trace import WRAP_TARGETS

    for module, attr, _layer in WRAP_TARGETS:
        owner = importlib.import_module(module)
        assert callable(functools.reduce(getattr, attr.split("."), owner)), (module, attr)


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


# -- the quarantine split's folded DQ gate -----------------------------------
def _two_step_quarantine_dq(spark, src, bad, nonnull_cols, **dq_kw) -> dict:
    """The split's previous shape: an observed write of the violating
    rows, then ``dq_check`` scanning the clean rows."""
    from functools import reduce

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    out = spark.read.parquet(src)
    viol = reduce(lambda a, b: a | b, [F.col(c).isNull() for c in nonnull_cols])
    obs = Observation()
    out.filter(viol).observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(bad)
    dq = dq_check(out.filter(~viol), nonnull_cols=nonnull_cols, **dq_kw)
    dq["quarantined"] = int(obs.get["rows"])
    return dq


def _quarantine_rows(case):
    """(id, s, ts) rows; a null ``s`` is a violation.  The newest
    timestamp sits on a violating row wherever one exists, so a gate that
    read it would see a different lag."""
    now = dt.datetime.now(dt.timezone.utc).replace(microsecond=0)
    ago = lambda minutes: now - dt.timedelta(minutes=minutes)  # noqa: E731
    if case == "no_bad_rows":
        return [(1, "a", ago(5)), (2, "b", None), (3, "c", ago(90))]
    if case == "every_row_bad":
        return [(1, None, ago(5)), (2, None, ago(50))]
    if case == "freshness_fails":
        return [(1, "a", ago(600)), (2, None, now), (3, "c", None)]
    return [(1, "a", ago(30)), (2, None, now), (3, "c", ago(90)), (4, None, None)]


@pytest.mark.parametrize(
    "case, freshness, status",
    [
        ("some_bad_rows", None, "ok"),
        ("no_bad_rows", None, "ok"),
        ("every_row_bad", None, "failed"),
        ("freshness_passes", 60, "ok"),
        ("freshness_fails", 60, "failed"),
    ],
)
def test_quarantine_fold_matches_two_step_gate(
    spark, tmp_path, case, freshness, status
):
    """The DQ gate's numbers taken from the quarantine write give the same
    ``dq`` dict as the old observed write plus a ``dq_check`` scan of the
    clean rows, ``lag_minutes`` (clock-relative) aside."""
    src, bad, clean = (str(tmp_path / n) for n in ("src", "bad", "clean"))
    spark.createDataFrame(
        _quarantine_rows(case), "id long, s string, ts timestamp"
    ).write.parquet(src)
    fresh = (
        f"  freshness_minutes: {freshness}\n  timestamp_col: ts\n"
        if freshness else ""
    )
    res, alerts = _run(spark, f"""
source:
  kind: parquet
  parquet:
    path: {src}
transform:
  sql: SELECT id, s, ts FROM input_df
checks:
  min_rows: 1
  nonnull_cols: [id, s]
  quarantine_path: {bad}
{fresh}load:
  to: parquet
  file_path: {clean}
alerts:
  on_fail: "slack://#x"
""")
    want = _two_step_quarantine_dq(
        spark, src, str(tmp_path / "bad_ref"), ["id", "s"], min_rows=1,
        freshness_minutes=freshness, timestamp_col="ts" if freshness else "",
    )
    assert res["status"] == status and len(alerts) == (status == "failed"), res
    _same_verdict(res["dq"], want)
    assert _rows(spark.read.parquet(bad)) == _rows(
        spark.read.parquet(str(tmp_path / "bad_ref"))
    )
