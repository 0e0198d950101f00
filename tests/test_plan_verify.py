"""The parquet verify gate: re-reads with the written schema, empty
artifacts, and artifacts that cannot be read.

``run_from_plan`` re-reads the stage of an overwrite or append, and the
stream tail its drained artifact, with the schema that was written instead
of inferring one.  These tests pin that

- the verify dicts equal the ones an inferring read of the same
  artifact gives (for the stream tail, ``test_plan_actions.py`` compares
  both gates with separate inferring reads);
- a declared column the artifact lacks reads as all-null and so fails a
  nonnull check (the inferring read skips it);
- a zero-row artifact passes nonnull checks at ``min_rows: 0``;
- a re-read that raises ends the run with ``status: failed``, a
  ``read_error``, one alert and an unchanged watermark;
- a sink write that raises ends it the same way with a ``write_error``
  under ``load``, and a source file that is missing with an error under
  ``extract``.
"""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.errors import PySparkException

from agentic_etl_poc_spark import runtime
from agentic_etl_poc_spark.memory import RunLedger
from agentic_etl_poc_spark.sinks import parquet_sink
from agentic_etl_poc_spark.sinks.parquet_sink import verify_parquet
from agentic_etl_poc_spark.streaming import events
from tests.test_plan_actions import _run, _stage_topic, _stream_plan


def _orders_plan(sf_smoke, out, load_extra="") -> str:
    return f"""
source:
  kind: parquet
  parquet:
    path: {sf_smoke}/orders.parquet
transform:
  sql: |
    SELECT o_orderkey, year(o_orderdate) AS yr, o_orderpriority,
           CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END AS price
    FROM input_df
checks:
  min_rows: 1
  nonnull_cols: [o_orderkey]
load:
  to: parquet
  file_path: {out}
{load_extra}alerts:
  on_fail: "slack://#x"
"""


@pytest.mark.parametrize(
    "load_extra, runs",
    [
        ("  mode: overwrite\n", 1),
        ("  mode: append\n", 2),
        ("  mode: overwrite\n  partition_by: [yr]\n", 1),
    ],
    ids=["overwrite", "append", "partition_by"],
)
@pytest.mark.parametrize(
    "verify, ok",
    [("", True), ("verify:\n  nonnull_cols: [o_orderkey, price, nope]\n", False)],
    ids=["passes", "fails"],
)
def test_declared_schema_verify_matches_inference(
    spark, sf_smoke, tmp_path, monkeypatch, load_extra, runs, verify, ok
):
    """Verify re-reads the stage with the written schema; its dict equals
    an inferring re-read of the same stage.  An append's verify counts
    the staged increment, and the published table holds every passing
    increment.  A failed verify publishes nothing."""
    out = tmp_path / "out"
    plan = _orders_plan(sf_smoke, out, load_extra) + verify
    real = parquet_sink.verify_parquet
    inferred = []

    def verify_both(spark, path, schema=None, **kw):
        inferred.append(real(spark, path, **kw))
        return real(spark, path, schema=schema, **kw)

    monkeypatch.setattr(parquet_sink, "verify_parquet", verify_both)
    for _ in range(runs):
        res, alerts = _run(spark, plan)
    want = inferred[-1]
    if ok:
        assert res["status"] == "ok" and not alerts, res
        assert res["verify"] == want
        assert want["rows"] == 1500
        assert real(spark, str(out))["rows"] == 1500 * runs
    else:
        assert res == {"status": "failed", "verify": want}
        assert want["error"] == "null values in price"
        assert len(alerts) == 1
        assert not out.exists()


def test_declared_column_missing_from_artifact_fails(spark, tmp_path):
    """An artifact overwritten without a nonnull column: the inferring
    read skips the column, the declared-schema read fails on it."""
    out = str(tmp_path / "t")
    written = spark.sql("SELECT id, id * 2 AS v FROM range(10)")
    spark.sql("SELECT id FROM range(10)").write.parquet(out)
    assert verify_parquet(spark, out, 1, ["id", "v"]) == {
        "rows": 10, "nonnull_ok": True, "status": True,
    }
    assert verify_parquet(spark, out, 1, ["id", "v"], schema=written.schema) == {
        "rows": 10, "nonnull_ok": False, "status": False,
        "error": "null values in v",
    }


@pytest.mark.parametrize("declared", [False, True], ids=["inferred", "declared"])
def test_zero_row_artifact_passes_nonnull(spark, tmp_path, declared):
    out = str(tmp_path / "t")
    empty = spark.sql("SELECT id, id * 2 AS v FROM range(0)")
    empty.write.parquet(out)
    schema = empty.schema if declared else None
    assert verify_parquet(spark, out, 0, ["id", "v"], schema=schema) == {
        "rows": 0, "nonnull_ok": True, "status": True,
    }
    assert verify_parquet(spark, out, 1, ["id", "v"], schema=schema) == {
        "rows": 0, "nonnull_ok": True, "status": False,
        "error": "rows 0 < min_rows 1",
    }


def test_zero_row_stream_drain_passes(spark, tmp_path):
    topic = _stage_topic(tmp_path / "topic")
    out = tmp_path / "out"
    plan = _stream_plan(
        topic, out, "checks:\n  min_rows: 0\n  nonnull_cols: [event_id]\n"
    ).replace("WHERE event_type IN", "WHERE event_type = 'none' AND event_type IN")
    res, alerts = _run(spark, plan)
    assert res["status"] == "ok" and not alerts, res
    assert res["verify"] == {"rows": 0, "nonnull_ok": True, "status": True}


# -- a verify re-read that raises ------------------------------------------
def _truncate_parts(path: str) -> None:
    parts = glob.glob(os.path.join(path, "**", "part-*.parquet"), recursive=True)
    assert parts
    for p in parts:
        with open(p, "r+b") as f:
            f.truncate(os.path.getsize(p) // 2)


def _assert_read_error(res, alerts):
    assert res["status"] == "failed" and set(res) == {"status", "verify"}, res
    assert res["verify"]["status"] is False
    assert res["verify"]["error"].startswith("read_error: "), res
    assert len(alerts) == 1 and alerts[0].startswith("Verify failed: ")


_WM = "1990-01-01 00:00:00.000000"


def _incremental_plan(sf_smoke, out, ledger, mode: str) -> str:
    RunLedger(ledger).set_state("watermark:o", _WM)
    load = f"  mode: {mode}\n"
    if mode == "upsert":
        load += "  key_cols: [o_orderkey]\n  partition_by: [yr]\n"
    return _orders_plan(sf_smoke, out, load).replace(
        "    FROM input_df\n", "           , o_orderdate\n    FROM input_df\n"
    ) + f"incremental:\n  ts_col: o_orderdate\n  ledger: {ledger}\n  key: o\n"


@pytest.mark.parametrize("mode", ["append", "upsert"])
def test_truncated_artifact_fails_batch_run(spark, sf_smoke, tmp_path, monkeypatch, mode):
    """The sink writes its stage (an upsert's is ``stage_upsert``), then a
    part file is truncated before the verify re-read of the stage (with
    the written schema): failed run, one alert, watermark unchanged."""
    out, ledger = tmp_path / "out", str(tmp_path / "ledger.db")
    name = "stage_upsert" if mode == "upsert" else "write_parquet"
    real = getattr(parquet_sink, name)

    def write_then_truncate(df, path, *a, **kw):
        written = real(df, path, *a, **kw)
        _truncate_parts(path)
        return written

    monkeypatch.setattr(parquet_sink, name, write_then_truncate)
    res, alerts = _run(spark, _incremental_plan(sf_smoke, out, ledger, mode))
    _assert_read_error(res, alerts)
    assert RunLedger(ledger).get_state("watermark:o") == _WM


# -- a sink write that raises ----------------------------------------------
def _assert_load_failed(res, alerts):
    assert res["status"] == "failed" and set(res) == {"status", "load"}, res
    assert res["load"]["status"] is False
    assert res["load"]["error"].startswith("write_error: "), res
    assert len(alerts) == 1 and alerts[0].startswith("Load failed: ")


@pytest.mark.parametrize("sink", ["parquet", "csv"])
def test_failing_sink_write_fails_batch_run(
    spark, sf_smoke, tmp_path, monkeypatch, sink
):
    """The sink raises a Spark error: failed run, one alert, nothing
    verified, watermark unchanged."""
    out, ledger = tmp_path / "out", str(tmp_path / "ledger.db")
    plan = _incremental_plan(sf_smoke, out, ledger, "append")
    if sink == "csv":
        plan = plan.replace("  to: parquet\n", "  to: csv\n")
        owner, name = runtime, "write_csv"
    else:
        owner, name = parquet_sink, "write_parquet"

    def boom(df, path, **kw):
        raise PySparkException("sink unavailable")

    monkeypatch.setattr(owner, name, boom)
    res, alerts = _run(spark, plan)
    _assert_load_failed(res, alerts)
    assert "sink unavailable" in res["load"]["error"]
    assert not out.exists()
    assert RunLedger(ledger).get_state("watermark:o") == _WM


def test_sink_write_onto_a_file_fails_batch_run(spark, sf_smoke, tmp_path):
    """A real write fault, no patching: the parquet target path is a
    plain file, so Spark's append cannot create its directory."""
    out, ledger = tmp_path / "out", str(tmp_path / "ledger.db")
    out.write_text("not a table")
    res, alerts = _run(spark, _incremental_plan(sf_smoke, out, ledger, "append"))
    _assert_load_failed(res, alerts)
    assert out.read_text() == "not a table"
    assert RunLedger(ledger).get_state("watermark:o") == _WM


def test_dq_failure_writes_nothing_and_keeps_watermark(spark, sf_smoke, tmp_path):
    out, ledger = tmp_path / "out", str(tmp_path / "ledger.db")
    plan = _incremental_plan(sf_smoke, out, ledger, "append")
    res, alerts = _run(spark, plan.replace("min_rows: 1", "min_rows: 99999"))
    assert res["status"] == "failed" and set(res) == {"status", "dq"}, res
    assert len(alerts) == 1 and alerts[0].startswith("DQ failed: ")
    assert not out.exists()
    assert RunLedger(ledger).get_state("watermark:o") == _WM


@pytest.mark.parametrize("kind", ["csv", "parquet"])
def test_missing_source_fails_extract(spark, sf_smoke, tmp_path, kind):
    """A source file that is not there: failed run at ``extract`` with
    one alert, nothing written, watermark unchanged (a missing CSV is
    ``file_not_found``, a parquet read that raises a ``read_error``)."""
    out, ledger = tmp_path / "out", str(tmp_path / "ledger.db")
    missing = str(tmp_path / f"missing.{kind}")
    plan = _incremental_plan(sf_smoke, out, ledger, "append").replace(
        f"  kind: parquet\n  parquet:\n    path: {sf_smoke}/orders.parquet\n",
        f"  kind: {kind}\n  {kind}:\n    path: {missing}\n",
    )
    assert missing in plan
    res, alerts = _run(spark, plan)
    assert res["status"] == "failed" and set(res) == {"status", "extract"}, res
    assert res["extract"]["status"] is False
    if kind == "csv":
        assert res["extract"]["error"] == f"file_not_found: {missing}"
    else:
        assert res["extract"]["error"].startswith("read_error: [PATH_NOT_FOUND]"), res
    assert len(alerts) == 1 and alerts[0].startswith("Extract failed: ")
    assert not out.exists()
    assert RunLedger(ledger).get_state("watermark:o") == _WM


def test_truncated_artifact_fails_stream_run(spark, tmp_path, monkeypatch):
    topic = _stage_topic(tmp_path / "topic")
    out = tmp_path / "out"
    real = events.run_available_now

    def drain_then_truncate(df, checkpoint, path):
        real(df, checkpoint, path)
        _truncate_parts(path)

    monkeypatch.setattr(events, "run_available_now", drain_then_truncate)
    res, alerts = _run(spark, _stream_plan(
        topic, out, "checks:\n  min_rows: 1\n  nonnull_cols: [event_id]\n"
    ))
    _assert_read_error(res, alerts)
