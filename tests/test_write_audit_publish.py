"""Write–audit–publish for batch loads.

A file load writes into a hidden stage beside its target, verify re-reads
the stage, and only a passing run publishes it through the journaled
commit (``parquet_sink.publish``).  These tests pin that

- a failed verify leaves the target's files and bytes, and the ledger
  watermark, as they were (the append reproduction: the corrected retry
  holds each key once);
- a crash at any rename of an overwrite or append publish is repaired by
  ``recover_table`` to the old table or the new one, never a mix, and so
  is a publish that fails after its journal (the run raises); one that
  fails before it (a rename that would cross filesystems) fails the
  load and publishes nothing;
- a ``quarantine_path`` on another filesystem than the target gets a
  stage of its own, and the run publishes what a same-filesystem run
  does;
- a ``recover_table`` of the target while a run holds its stage leaves
  the stage alone, and an upsert journal in the older relative format
  still rolls forward;
- a quarantine side with no rows is still a readable table, and the
  quarantine write plans no ``Sort`` and no ``Exchange``;
- no run, passing or failing, leaves a stage behind, and no batch run
  persists its output (the parquet upsert aside); a quarantine plan that
  reads its clean rows back (a CSV target) and fails its DQ gate or its
  verify leaves the target byte-identical and still publishes its
  violating rows.
"""

from __future__ import annotations

import errno
import glob
import hashlib
import json
import os

import pytest

from agentic_etl_poc_spark.memory import RunLedger
from agentic_etl_poc_spark.sinks import parquet_sink as ps
from tests.test_plan_actions import _batch, _quarantine_plan, _run, _rows
from tests.test_plan_verify import _WM, _incremental_plan, _orders_plan

#: verify fails: a fifth of the orders have a null price
_BAD_VERIFY = "verify:\n  nonnull_cols: [o_orderkey, price]\n"


def _snapshot(path) -> dict[str, str]:
    """Every file under ``path`` (hidden ``.crc`` twins and ``_SUCCESS``
    included) with a digest of its bytes."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha1(fh.read()).hexdigest()
    return out


def _stages(tmp_path) -> list[str]:
    return glob.glob(os.path.join(tmp_path, "**", f".*{ps._STAGE}*"), recursive=True)


def test_failed_append_verify_leaves_target_and_watermark(spark, sf_smoke, tmp_path):
    """The reproduction: an append whose verify fails used to leave its
    1500 rows in the table, so the corrected retry held 3000 rows for
    1500 keys.  Now the target is untouched and the retry holds each key
    once; a failing append onto the published table changes no byte."""
    out, ledger = tmp_path / "out", str(tmp_path / "ledger.db")
    plan = _incremental_plan(sf_smoke, out, ledger, "append")
    res, alerts = _run(spark, plan + _BAD_VERIFY)
    assert res["status"] == "failed" and set(res) == {"status", "verify"}, res
    assert res["verify"]["error"] == "null values in price"
    assert len(alerts) == 1
    assert not out.exists() and not _stages(tmp_path)
    assert RunLedger(ledger).get_state("watermark:o") == _WM

    res, _ = _run(spark, plan)
    assert res["status"] == "ok", res
    table = spark.read.parquet(str(out))
    assert table.count() == table.select("o_orderkey").distinct().count() == 1500

    before = _snapshot(out)
    RunLedger(ledger).set_state("watermark:o", _WM)
    res, _ = _run(spark, plan + _BAD_VERIFY)
    assert res["status"] == "failed", res
    assert _snapshot(out) == before
    assert RunLedger(ledger).get_state("watermark:o") == _WM
    assert not _stages(tmp_path)


@pytest.mark.parametrize("sink", ["parquet", "csv"])
def test_failed_overwrite_verify_leaves_old_table(spark, sf_smoke, tmp_path, sink):
    target = tmp_path / ("out.csv" if sink == "csv" else "out")
    plan = _orders_plan(sf_smoke, target, "  mode: overwrite\n")
    if sink == "csv":
        plan = plan.replace("  to: parquet\n", "  to: csv\n")
    res, _ = _run(spark, plan.replace("% 5 = 0", "% 5 = 99"))
    assert res["status"] == "ok", res
    before = _snapshot(tmp_path)
    res, alerts = _run(spark, plan + _BAD_VERIFY)
    assert res["status"] == "failed" and set(res) == {"status", "verify"}, res
    assert len(alerts) == 1
    assert _snapshot(tmp_path) == before


class _Crash(RuntimeError):
    pass


@pytest.mark.parametrize("mode", ["overwrite", "append"])
def test_crash_at_each_publish_rename_recovers_old_or_new(
    spark, sf_smoke, tmp_path, monkeypatch, mode
):
    """Kill the publish at every rename: ``recover_table`` then leaves
    the old table or the whole new one (the journal exists before the
    first rename, so every crash rolls forward), and no stage."""
    real = ps._rename
    base = _orders_plan(sf_smoke, "{out}", f"  mode: {mode}\n")
    old_plan = base.replace("FROM input_df", "FROM input_df WHERE o_orderkey < 100")
    new_plan = base.replace("FROM input_df", "FROM input_df WHERE o_orderkey >= 100")
    ref = str(tmp_path / "ref")
    assert _run(spark, new_plan.replace("{out}", ref))[0]["status"] == "ok"
    increment = _rows(spark.read.parquet(ref))
    crash_at, completed = 0, False
    while not completed:
        out = str(tmp_path / f"t{crash_at}")
        assert _run(spark, old_plan.replace("{out}", out))[0]["status"] == "ok"
        old = _rows(spark.read.parquet(out))
        new = sorted(increment + old) if mode == "append" else increment
        calls = {"n": 0}

        def dying(src, dst, limit=crash_at):
            if calls["n"] >= limit:
                raise _Crash(f"injected at rename #{calls['n']}")
            calls["n"] += 1
            real(src, dst)

        monkeypatch.setattr(ps, "_rename", dying)
        try:
            completed = _run(spark, new_plan.replace("{out}", out))[0]["status"] == "ok"
        except _Crash:
            pass
        finally:
            monkeypatch.setattr(ps, "_rename", real)
        ps.recover_table(out)
        assert _rows(spark.read.parquet(out)) == new, f"crash_at={crash_at}"
        assert not _stages(tmp_path)
        assert not glob.glob(os.path.join(tmp_path, ".precommit_*"))
        crash_at += 1
    assert crash_at > 2


@pytest.mark.parametrize("case", ["no_bad_rows", "no_clean_rows"])
def test_quarantine_empty_side_publishes_readable_table(spark, tmp_path, case):
    src, bad, clean = (str(tmp_path / n) for n in ("src", "bad", "clean"))
    v = "'v'" if case == "no_bad_rows" else "NULL"
    spark.sql(f"SELECT id, CAST({v} AS STRING) AS v FROM range(5)").write.parquet(src)
    res, _ = _run(spark, f"""
source:
  kind: parquet
  parquet:
    path: {src}
transform:
  sql: SELECT id, v FROM input_df
checks:
  min_rows: 0
  nonnull_cols: [v]
  quarantine_path: {bad}
load:
  to: parquet
  file_path: {clean}
  mode: overwrite
""")
    assert res["status"] == "ok", res
    empty, full = (bad, clean) if case == "no_bad_rows" else (clean, bad)
    assert spark.read.parquet(empty).count() == 0
    assert spark.read.parquet(empty).columns == ["id", "v"]
    assert spark.read.parquet(full).count() == 5
    for side in (bad, clean):
        assert os.path.exists(os.path.join(side, "_SUCCESS"))
    assert not _stages(tmp_path)


def test_quarantine_write_plans_no_sort_or_exchange(spark, sf_smoke, tmp_path):
    """The split is one write partitioned by the violation flag with two
    concurrent writers per task: no ``Sort`` by the flag, no shuffle."""
    from agentic_etl_poc_spark.operators.quality import QUARANTINE_FLAG

    res, _ = _run(spark, _quarantine_plan(sf_smoke, tmp_path / "bad", tmp_path / "clean"))
    assert res["status"] == "ok", res
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription() for i in range(execs.size())
    ]
    split = [p for p in plans if f"[{QUARANTINE_FLAG}#" in p and "InsertInto" in p]
    assert split, "no quarantine write in the SQL status store"
    assert "Sort" not in split[-1] and "Exchange" not in split[-1], split[-1]


def _split(spark, bad, clean):
    return _rows(spark.read.parquet(str(bad))), _rows(spark.read.parquet(str(clean)))


def test_quarantine_publish_failing_after_journal_raises_then_rolls_forward(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """The quarantine swap's rename fails after the journal: the commit
    is decided, so the run raises instead of reporting a failed load.
    The next ``recover_table`` of the target publishes both sides (the
    plan appends its clean rows)."""
    bad, clean = tmp_path / "bad", tmp_path / "clean"
    ref = _quarantine_plan(sf_smoke, tmp_path / "ref_bad", tmp_path / "ref_clean")
    assert _run(spark, ref)[0]["status"] == "ok"
    old = _quarantine_plan(sf_smoke, bad, clean).replace("% 7 = 0", "% 3 = 0")
    assert _run(spark, old)[0]["status"] == "ok"
    _, old_clean = _split(spark, bad, clean)
    real = ps._rename

    def exdev(src, dst):
        if dst == str(bad):
            raise OSError(errno.EXDEV, os.strerror(errno.EXDEV), dst)
        real(src, dst)

    monkeypatch.setattr(ps, "_rename", exdev)
    with pytest.raises(OSError) as e:
        _run(spark, _quarantine_plan(sf_smoke, bad, clean))
    assert e.value.errno == errno.EXDEV
    assert len(_stages(tmp_path)) == 1
    monkeypatch.setattr(ps, "_rename", real)
    assert ps.recover_table(str(clean)).startswith("rolled forward")
    ref_bad, ref_clean = _split(spark, tmp_path / "ref_bad", tmp_path / "ref_clean")
    assert _split(spark, bad, clean) == (ref_bad, sorted(old_clean + ref_clean))
    assert not _stages(tmp_path)
    assert not glob.glob(os.path.join(tmp_path, ".precommit_*"))


def test_publish_across_filesystems_fails_before_journal(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """A rename that would cross filesystems is refused before the
    journal: the run fails its load, the target keeps every byte, and no
    stage is left."""
    out = tmp_path / "out"
    plan = _orders_plan(sf_smoke, out, "  mode: overwrite\n")
    assert _run(spark, plan)[0]["status"] == "ok"
    before = _snapshot(tmp_path)
    monkeypatch.setattr(ps, "_device", lambda p: 1 if ps._STAGE in p else 0)
    res, alerts = _run(spark, plan)
    assert set(res) == {"status", "load"} and res["status"] == "failed", res
    assert res["load"]["error"].startswith("write_error: [Errno 18]"), res
    assert len(alerts) == 1
    assert _snapshot(tmp_path) == before


def test_quarantine_path_on_another_filesystem(spark, sf_smoke, tmp_path, monkeypatch):
    """``quarantine_path`` on another filesystem than the target: the
    split is staged beside ``quarantine_path`` and the clean rows are
    read back into a stage beside the target, so every rename stays on
    one filesystem (``_commit`` would refuse one that does not).  The
    result and both published tables equal a same-filesystem run's."""
    same = _quarantine_plan(sf_smoke, tmp_path / "a_bad", tmp_path / "a_clean")
    want, _ = _run(spark, same)
    assert want["status"] == "ok", want
    other = str(tmp_path / "otherfs")
    bad, clean = tmp_path / "otherfs" / "bad", tmp_path / "b_clean"
    monkeypatch.setattr(ps, "_device", lambda p: 1 if p.startswith(other) else 0)
    assert not ps.same_device(str(clean), str(bad))
    res, _ = _run(spark, _quarantine_plan(sf_smoke, bad, clean))
    assert res == {**want, "message": want["message"].replace("a_clean", "b_clean")}
    assert _split(spark, bad, clean) == _split(
        spark, tmp_path / "a_bad", tmp_path / "a_clean"
    )
    assert not _stages(tmp_path)


def test_recover_during_a_run_leaves_its_stage(spark, sf_smoke, tmp_path, monkeypatch):
    """A reader's ``read_table`` (and its ``recover_table``) of the target
    between the stage write and the publish sees the old table and
    leaves the run's stage, and the target's residue, alone: the run
    holds the stage.  A stage no run holds is swept."""
    out = tmp_path / "out"
    plan = _orders_plan(sf_smoke, out, "  mode: overwrite\n")
    assert _run(spark, plan.replace("% 5 = 0", "% 5 = 99"))[0]["status"] == "ok"
    old = _rows(spark.read.parquet(str(out)))
    real, seen = ps.verify_parquet, []

    def read_then_verify(spark, path, **kw):
        seen.append(_rows(ps.read_table(spark, str(out))))
        assert ps.recover_table(str(out)) == "in use"
        assert len(_stages(tmp_path)) == 1
        return real(spark, path, **kw)

    monkeypatch.setattr(ps, "verify_parquet", read_then_verify)
    res, _ = _run(spark, plan)
    assert res["status"] == "ok", res
    assert seen == [old]
    assert len(_rows(spark.read.parquet(str(out)))) == 1500

    dead = tmp_path / f".out{ps._STAGE}dead"
    dead.mkdir()
    (dead / ps._LOCK).touch()
    ps.recover_table(str(out))
    assert not _stages(tmp_path)


def test_recover_rolls_forward_an_older_upsert_journal(spark, tmp_path):
    """An upsert journal as older checkouts wrote it (renames relative
    to the stage and the table: ``swaps`` of partition paths, ``extras``
    of ``[src, dst]`` pairs) rolls forward like the current format."""
    table = str(tmp_path / "t")
    _batch(spark, 0, 9).write.partitionBy("yr").parquet(table)
    stage = os.path.join(table, ".upsert_stage_old")
    new = _batch(spark, 100, 106).filter("yr = 1")
    new.write.partitionBy("yr").parquet(stage)
    new.write.parquet(os.path.join(stage, "_cdf"))
    with open(os.path.join(table, ps._JOURNAL), "w") as f:
        json.dump({
            "stage": stage, "swaps": ["yr=1"],
            "extras": [["_cdf", "_changes/b00000001"]],
        }, f)
    assert ps.recover_table(table).startswith("rolled forward")
    got = _rows(ps.read_table(spark, table).select("id", "yr", "v"))
    keep = [r for r in _rows(_batch(spark, 0, 9)) if r[1] != 1]
    assert got == sorted(keep + _rows(new))
    assert os.path.isdir(os.path.join(table, "_changes", "b00000001"))
    assert not os.path.exists(stage)
    assert not os.path.exists(os.path.join(table, ps._JOURNAL))


def _quarantine_csv_plan(sf, tmp) -> str:
    """A quarantine plan on the read-back path: its CSV target reads the
    clean rows back from the split.  A fifth of the clean rows have a
    null price."""
    return _quarantine_plan(sf, tmp / "bad", tmp / "out.csv").replace(
        "END AS priority\n",
        "END AS priority,\n"
        "           CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END AS price\n",
    ).replace("  to: parquet\n", "  to: csv\n") + 'alerts:\n  on_fail: "slack://#x"\n'


_PLANS = {
    "overwrite": lambda sf, tmp: _orders_plan(sf, tmp / "out", "  mode: overwrite\n"),
    "append": lambda sf, tmp: _incremental_plan(
        sf, tmp / "out", str(tmp / "ledger.db"), "append"
    ).replace("min_rows: 1\n  nonnull_cols: [o_orderkey]", "min_rows: 0"),
    "quarantine": lambda sf, tmp: _quarantine_plan(sf, tmp / "bad", tmp / "clean"),
    "dq_reject": lambda sf, tmp: _orders_plan(sf, tmp / "out").replace(
        "nonnull_cols: [o_orderkey]", "nonnull_cols: [price]"
    ),
    "verify_fails": lambda sf, tmp: _orders_plan(sf, tmp / "out") + _BAD_VERIFY,
    "csv": lambda sf, tmp: _orders_plan(sf, tmp / "out.csv").replace(
        "  to: parquet\n", "  to: csv\n"
    ),
    "quarantine_csv_dq_fails": lambda sf, tmp: _quarantine_csv_plan(sf, tmp).replace(
        "min_rows: 1", "min_rows: 99999"
    ),
    "quarantine_csv_verify_fails": lambda sf, tmp: _quarantine_csv_plan(sf, tmp)
    + "verify:\n  nonnull_cols: [price]\n",
}

#: the shapes whose runs fail, each with the stage that fails them
_FAILS = {
    "dq_reject": "dq",
    "verify_fails": "verify",
    "quarantine_csv_dq_fails": "dq",
    "quarantine_csv_verify_fails": "verify",
}


@pytest.mark.parametrize("shape", list(_PLANS))
def test_batch_runs_leave_no_stage_and_persist_nothing(
    spark, sf_smoke, tmp_path, monkeypatch, shape
):
    """Warm runs (the second of each plan) with ``DataFrame.persist``
    raising: every non-upsert batch shape runs without a persist, which
    also means without the session clone Spark's cache manager makes per
    persist.  Whatever the outcome, no stage is left, and a failed run
    alerts once.  A failed quarantine run on the read-back path (a CSV
    target) leaves the old target byte-identical and still publishes
    the violating rows to ``quarantine_path``."""
    plan = _PLANS[shape](sf_smoke, tmp_path)
    want = "failed" if shape in _FAILS else "ok"
    target, old = tmp_path / "out.csv", b"o_orderkey,priority,price\n1,old,1.0\n"
    if shape.startswith("quarantine_csv"):
        target.write_bytes(old)
    assert _run(spark, plan)[0]["status"] == want
    cls = type(spark.range(1))

    def boom(self, *a, **kw):
        raise AssertionError("persist() on the batch path")

    monkeypatch.setattr(cls, "persist", boom)
    res, alerts = _run(spark, plan)
    assert res["status"] == want, res
    assert not _stages(tmp_path)
    if shape in _FAILS:
        assert set(res) == {"status", _FAILS[shape]} and len(alerts) == 1, res
    if shape.startswith("quarantine_csv"):
        assert target.read_bytes() == old
        violating = spark.read.parquet(f"{sf_smoke}/orders.parquet").filter(
            "o_orderkey % 7 = 0"
        )
        bad = spark.read.parquet(str(tmp_path / "bad"))
        assert _rows(bad.select("o_orderkey")) == _rows(violating.select("o_orderkey"))
