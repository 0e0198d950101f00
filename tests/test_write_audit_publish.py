"""Write–audit–publish for batch loads.

Every batch load writes a stage and verify reads it: a file load's (a
parquet upsert's too) is a hidden directory beside its target, published
through the journaled commit (``parquet_sink.publish``), a JDBC load's
the table ``{table}_stg``, published by one transaction.  Only a passing
run publishes.  These tests pin that

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
  violating rows;
- a parquet upsert (bootstrap or merge) or a Derby load (append,
  replace, upsert) that fails its verify or DQ gate leaves the target's
  files or rows, and the watermark, as they were, and no stage; a
  passing one verifies the partitions it rewrote or the batch;
- a quarantine split or a stream drain that raises fails the load with
  one alert.
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


# -- the staged upsert and JDBC tails ----------------------------------------
def _upsert_plan(sf, tmp) -> str:
    """An incremental parquet upsert of the orders, partitioned by year."""
    return _incremental_plan(sf, tmp / "out", str(tmp / "ledger.db"), "upsert")


def _jdbc_plan(sf, tmp, mode: str, bump: int = 0) -> str:
    """An incremental Derby load of the orders keyed up to 70, ``pri``
    being the customer key plus ``bump``, NULL for every fifth order when
    ``bump`` is set."""
    from agentic_etl_poc_spark.queries.pipeline import derby_url

    null_every = "o_orderkey % 5 = 0" if bump else "false"
    plan = _orders_plan(sf, "-", f"  mode: {mode}\n")
    plan = plan.replace(
        "  to: parquet\n  file_path: -\n",
        f'  to: postgres\n  conn_str: "{derby_url(str(tmp / "db"), create=True)}"\n'
        "  table: tgt\n  key_cols: [o_orderkey]\n",
    ).replace(
        plan[plan.index("    SELECT"):plan.index("checks:")],
        f"    SELECT o_orderkey, o_orderdate,\n"
        f"           CASE WHEN {null_every} THEN NULL ELSE o_custkey + {bump} END AS pri\n"
        f"    FROM input_df WHERE o_orderkey <= 70\n",
    )
    ledger = str(tmp / "ledger.db")
    RunLedger(ledger).set_state("watermark:o", _WM)
    return plan + f"incremental:\n  ts_col: o_orderdate\n  ledger: {ledger}\n  key: o\n"


#: verify fails on every staged tail below: too few rows, nulls in ``pri``
_BAD_JDBC_VERIFY = "verify:\n  min_rows: 1000\n  nonnull_cols: [pri]\n"


def _jdbc_rows(spark, tmp) -> list[tuple]:
    from agentic_etl_poc_spark.queries.pipeline import derby_url
    from agentic_etl_poc_spark.sources.jdbc_source import fetch_db

    return _rows(fetch_db(spark, derby_url(str(tmp / "db")), "SELECT * FROM tgt"))


def _jdbc_stage_exists(spark, tmp) -> bool:
    from agentic_etl_poc_spark.queries.pipeline import derby_url
    from agentic_etl_poc_spark.sinks.jdbc_sink import _derby_table_exists

    return _derby_table_exists(spark, derby_url(str(tmp / "db")), "tgt_stg")


#: cell -> (the plan that passes first, or None for a bootstrap; the plan
#: that fails; the stage that fails it)
_STAGED_TAILS = {
    "upsert_bootstrap_verify": (None, lambda sf, tmp: _upsert_plan(sf, tmp) + _BAD_VERIFY, "verify"),
    "upsert_merge_verify": (_upsert_plan, lambda sf, tmp: _upsert_plan(sf, tmp) + _BAD_VERIFY, "verify"),
    "upsert_merge_dq": (_upsert_plan, lambda sf, tmp: _upsert_plan(sf, tmp).replace(
        "nonnull_cols: [o_orderkey]", "nonnull_cols: [price]"
    ), "dq"),
    **{
        f"jdbc_{mode}_verify": (
            lambda sf, tmp, m=mode: _jdbc_plan(sf, tmp, m),
            lambda sf, tmp, m=mode: _jdbc_plan(sf, tmp, m, bump=1) + _BAD_JDBC_VERIFY,
            "verify",
        )
        for mode in ("append", "replace", "upsert")
    },
}


@pytest.mark.parametrize("cell", list(_STAGED_TAILS))
def test_failed_staged_tail_leaves_target(spark, sf_smoke, tmp_path, cell):
    """A parquet upsert (bootstrap or merge) or a Derby load (append,
    replace, upsert) that fails its verify or its DQ gate: one alert, the
    target's files (or its ``SELECT *`` rows) as they were, no stage
    directory or ``{table}_stg`` table left, and the watermark where it
    was.  Both used to publish before verify ran (a JDBC verify also
    ignored ``min_rows`` and ``nonnull_cols``)."""
    first, failing, stage = _STAGED_TAILS[cell]
    jdbc = cell.startswith("jdbc")
    if first is not None:
        assert _run(spark, first(sf_smoke, tmp_path))[0]["status"] == "ok"
    before = _jdbc_rows(spark, tmp_path) if jdbc else _snapshot(tmp_path / "out")
    res, alerts = _run(spark, failing(sf_smoke, tmp_path))
    assert res["status"] == "failed" and set(res) == {"status", stage}, res
    assert len(alerts) == 1
    assert (_jdbc_rows(spark, tmp_path) if jdbc else _snapshot(tmp_path / "out")) == before
    assert before or first is None
    assert not _stages(tmp_path)
    assert not (jdbc and _jdbc_stage_exists(spark, tmp_path))
    assert RunLedger(str(tmp_path / "ledger.db")).get_state("watermark:o") == _WM


def test_upsert_verify_counts_rewritten_partitions(spark, sf_smoke, tmp_path):
    """A passing upsert verifies its stage: ``verify.rows`` counts the
    rows of the partitions the merge rewrote (survivors and batch), not
    the whole table; the table then holds each key once."""
    out = tmp_path / "out"
    plan = _orders_plan(sf_smoke, out, "  mode: upsert\n  key_cols: [o_orderkey]\n"
                        "  partition_by: [yr]\n")
    base = plan.replace("FROM input_df", "FROM input_df WHERE o_orderkey % 3 = 0")
    batch = plan.replace("FROM input_df", "FROM input_df WHERE o_orderkey % 5 = 1 AND year(o_orderdate) = 1995")
    assert _run(spark, base)[0]["status"] == "ok"
    res, alerts = _run(spark, batch)
    assert res["status"] == "ok" and not alerts, res
    assert res["message"].endswith("(parquet COW: 1 partitions rewritten)")
    table = spark.read.parquet(str(out))
    assert res["verify"]["rows"] == table.filter("yr = 1995").count() < table.count()
    keys = table.select("o_orderkey")
    assert keys.count() == keys.distinct().count()
    assert not _stages(tmp_path)


@pytest.mark.parametrize("mode", ["append", "replace", "upsert"])
def test_jdbc_verify_counts_its_stage(spark, sf_smoke, tmp_path, mode):
    """A passing Derby load verifies its stage table: ``verify.rows`` is
    the batch's row count whatever the table held; publishing leaves the
    table as the mode says and drops the stage."""
    plan = _jdbc_plan(sf_smoke, tmp_path, mode)
    assert _run(spark, plan)[0]["status"] == "ok"
    first = _jdbc_rows(spark, tmp_path)
    res, alerts = _run(spark, _jdbc_plan(sf_smoke, tmp_path, mode).replace(
        "o_custkey + 0", "o_custkey + 2"
    ))
    assert res["status"] == "ok" and not alerts, res
    assert res["verify"]["rows"] == len(first) > 0
    assert res["verify"]["nonnull_ok"] is True
    bumped = sorted((k, d, p + 2) for k, d, p in first)
    want = {"append": sorted(first + bumped), "replace": bumped, "upsert": bumped}[mode]
    assert _jdbc_rows(spark, tmp_path) == want
    assert not _jdbc_stage_exists(spark, tmp_path)


# -- writes that raise -------------------------------------------------------
def test_raising_quarantine_split_fails_the_load(spark, sf_smoke, tmp_path, monkeypatch):
    """The quarantine split write raises a Spark error: a failed load
    (``write_error``) with one alert, nothing published on either side,
    no stage, the watermark where it was."""
    from pyspark.errors import PySparkException

    from agentic_etl_poc_spark import runtime

    def boom(*a, **kw):
        raise PySparkException("split failed")

    ledger = str(tmp_path / "ledger.db")
    RunLedger(ledger).set_state("watermark:o", _WM)
    plan = _quarantine_plan(sf_smoke, tmp_path / "bad", tmp_path / "clean") + (
        f"incremental:\n  ts_col: o_orderdate\n  ledger: {ledger}\n  key: o\n"
        'alerts:\n  on_fail: "slack://#x"\n'
    )
    monkeypatch.setattr(runtime, "quarantine_write", boom)
    res, alerts = _run(spark, plan)
    assert res == {"status": "failed", "load": {"status": False, "error": "write_error: split failed"}}
    assert len(alerts) == 1 and alerts[0].startswith("Load failed: ")
    assert sorted(os.listdir(tmp_path)) == ["ledger.db"]
    assert RunLedger(ledger).get_state("watermark:o") == _WM


def test_raising_stream_drain_fails_the_load(spark, tmp_path, monkeypatch):
    """The stream drain raises a Spark error: a failed load
    (``write_error``) with one alert, and no gate scan."""
    from pyspark.errors import PySparkException

    from agentic_etl_poc_spark.streaming import events
    from tests.test_plan_actions import _stage_topic, _stream_plan

    def boom(*a, **kw):
        raise PySparkException("drain failed")

    topic = _stage_topic(tmp_path / "topic")
    monkeypatch.setattr(events, "run_available_now", boom)
    res, alerts = _run(spark, _stream_plan(topic, tmp_path / "out", "checks:\n  min_rows: 1\n"))
    assert res == {"status": "failed", "load": {"status": False, "error": "write_error: drain failed"}}
    assert len(alerts) == 1 and alerts[0].startswith("Load failed: ")
    assert not (tmp_path / "out").exists()


def test_jdbc_stage_drop_failure_only_warns(spark, sf_smoke, tmp_path, monkeypatch):
    """Dropping the stage table fails after the publish: the run still
    passes (its load is published and its watermark advances) and the
    failure is a warning."""
    from agentic_etl_poc_spark.sinks import jdbc_sink

    real = jdbc_sink._execute

    def no_drop(spark, conn_str, stmts, ignore_states=()):
        if stmts[0].startswith("DROP TABLE tgt_stg"):
            raise RuntimeError("connection lost")
        real(spark, conn_str, stmts, ignore_states)

    monkeypatch.setattr(jdbc_sink, "_execute", no_drop)
    with pytest.warns(UserWarning, match="tgt_stg was not dropped: connection lost"):
        res, alerts = _run(spark, _jdbc_plan(sf_smoke, tmp_path, "append"))
    assert res["status"] == "ok" and not alerts, res
    assert len(_jdbc_rows(spark, tmp_path)) == res["verify"]["rows"]
    assert RunLedger(str(tmp_path / "ledger.db")).get_state("watermark:o") != _WM
