"""Lakehouse COW table: journaled commit atomicity, crash recovery,
schema evolution, multi-column partitioning, row-level change feed.

The commit protocol under test (sinks/parquet_sink.py::upsert_parquet):
stage write beside the table -> journal in the stage (tmp + atomic
rename) -> partition-directory swaps -> change-feed move -> residue
cleanup -> journal and stage removal.
``recover_table`` must repair a crash at ANY rename so a reader sees the
whole commit or none of it — never a mix (what a Delta/Iceberg metadata
commit log provides; reference upsert semantics anchor:
etl_agent/tools.py:83-96).
"""

from __future__ import annotations

import os

import pytest

from agentic_etl_poc_spark.sinks import parquet_sink as ps


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _table_rows(spark, tbl):
    return {
        tuple(r) for r in ps.read_table(spark, tbl).select("id", "yr", "v").collect()
    }


BASE = [(1, 2024, "a"), (2, 2024, "b"), (3, 2025, "c")]
BATCH = [(3, 2025, "c2"), (4, 2025, "d"), (5, 2026, "e")]
OLD_STATE = {(1, 2024, "a"), (2, 2024, "b"), (3, 2025, "c")}
NEW_STATE = {
    (1, 2024, "a"),
    (2, 2024, "b"),
    (3, 2025, "c2"),
    (4, 2025, "d"),
    (5, 2026, "e"),
}
SCHEMA = "id int, yr int, v string"


class _Crash(RuntimeError):
    pass


def test_crash_injection_old_or_new_never_mixed(spark, tmp_path, monkeypatch):
    """Kill the commit at EVERY rename index; after recover_table the
    table is exactly the old state (crash before the journal existed)
    or exactly the new state (journal present -> rolled forward)."""
    real_rename = ps._rename
    crash_at = 0
    for crash_at in range(0, 8):
        tbl = str(tmp_path / f"tbl_{crash_at}")
        ps.upsert_parquet(_mk(spark, BASE, SCHEMA), tbl, ["id"], ["yr"])
        calls = {"n": 0}

        def dying(src, dst, _limit=crash_at):
            if calls["n"] >= _limit:
                raise _Crash(f"injected at rename #{calls['n']}")
            calls["n"] += 1
            real_rename(src, dst)

        monkeypatch.setattr(ps, "_rename", dying)
        try:
            ps.upsert_parquet(_mk(spark, BATCH, SCHEMA), tbl, ["id"], ["yr"])
            completed = True
        except _Crash:
            completed = False
        finally:
            monkeypatch.setattr(ps, "_rename", real_rename)

        # the journal lives in the stage beside the table
        journal_present = any(
            os.path.exists(os.path.join(d, ps._JOURNAL))
            for d in [tbl, *ps._stages(tbl)]
        )
        got = _table_rows(spark, tbl)  # read_table runs recovery
        if completed or journal_present:
            assert got == NEW_STATE, f"crash_at={crash_at}: not rolled forward"
        else:
            assert got == OLD_STATE, f"crash_at={crash_at}: old state damaged"
        # recovery left no journal, no residue, no stage
        assert not os.path.exists(os.path.join(tbl, ps._JOURNAL))
        leftovers = [
            d
            for root, dirs, _ in os.walk(tbl)
            for d in dirs
            if d.startswith((".precommit_", ".upsert_stage_"))
        ]
        assert not leftovers, f"crash_at={crash_at}: {leftovers}"
        assert not ps._stages(tbl), f"crash_at={crash_at}: stage left"
        if completed:
            break
    assert completed, "crash index never reached the end of the commit"


def test_recover_restores_orphan_precommit_dir(spark, tmp_path):
    """ADVICE r12 (medium): an orphan .precommit_ dir whose live
    partition dir is MISSING may hold the only copy of those rows — the
    sweep must restore it, never delete it."""
    tbl = str(tmp_path / "tbl")
    ps.upsert_parquet(_mk(spark, BASE, SCHEMA), tbl, ["id"], ["yr"])
    # simulate the historic crash window: partition retired, swap-in lost
    os.rename(
        os.path.join(tbl, "yr=2024"), os.path.join(tbl, ".precommit_yr=2024")
    )
    msg = ps.recover_table(tbl)
    assert "restore" in msg
    assert _table_rows(spark, tbl) == OLD_STATE
    # stale residue (live dir exists) is swept, not restored
    os.makedirs(os.path.join(tbl, ".precommit_yr=2025", "junk"))
    ps.recover_table(tbl)
    assert not os.path.exists(os.path.join(tbl, ".precommit_yr=2025"))
    assert _table_rows(spark, tbl) == OLD_STATE


def test_schema_evolution_on_upsert(spark, tmp_path):
    """A batch that ADDS a column evolves the table: merge read +
    by-name union fill nulls; untouched partitions read back with nulls
    through read_table's mergeSchema."""
    tbl = str(tmp_path / "tbl")
    ps.upsert_parquet(_mk(spark, BASE, SCHEMA), tbl, ["id"], ["yr"])
    batch = _mk(
        spark,
        [(3, 2025, "c2", 9.5), (6, 2025, "f", 1.5)],
        "id int, yr int, v string, score double",
    )
    ps.upsert_parquet(batch, tbl, ["id"], ["yr"])
    got = {
        (r["id"], r["yr"], r["v"], r["score"])
        for r in ps.read_table(spark, tbl).collect()
    }
    assert got == {
        (1, 2024, "a", None),  # untouched partition: null-filled
        (2, 2024, "b", None),
        (3, 2025, "c2", 9.5),  # updated with the new column
        (6, 2025, "f", 1.5),
    }
    # and the reverse direction: a NARROW batch against the evolved table
    narrow = _mk(spark, [(7, 2025, "g")], SCHEMA)
    ps.upsert_parquet(narrow, tbl, ["id"], ["yr"])
    row = {
        r["id"]: r["score"] for r in ps.read_table(spark, tbl).collect()
    }
    assert row[7] is None and row[3] == 9.5


def test_multi_column_partitioning(spark, tmp_path):
    """Nested a=1/b=2 layouts: swaps operate on leaf dirs, untouched
    leaves keep their exact files, signatures key on the leaf path."""
    tbl = str(tmp_path / "tbl")
    base = _mk(
        spark,
        [(1, 2024, 1, "a"), (2, 2024, 2, "b"), (3, 2025, 1, "c")],
        "id int, yr int, q int, v string",
    )
    ps.upsert_parquet(base, tbl, ["id"], ["yr", "q"])
    sig0 = ps.partition_signatures(tbl)
    assert set(sig0) == {
        os.path.join("yr=2024", "q=1"),
        os.path.join("yr=2024", "q=2"),
        os.path.join("yr=2025", "q=1"),
    }
    batch = _mk(
        spark,
        [(3, 2025, 1, "c2"), (9, 2026, 4, "i")],
        "id int, yr int, q int, v string",
    )
    msg = ps.upsert_parquet(batch, tbl, ["id"], ["yr", "q"])
    assert "2 partitions rewritten" in msg
    got = {
        tuple(r)
        for r in ps.read_table(spark, tbl).select("id", "yr", "q", "v").collect()
    }
    assert got == {
        (1, 2024, 1, "a"),
        (2, 2024, 2, "b"),
        (3, 2025, 1, "c2"),
        (9, 2026, 4, "i"),
    }
    sig1 = ps.partition_signatures(tbl)
    for leaf in (os.path.join("yr=2024", "q=1"), os.path.join("yr=2024", "q=2")):
        assert sig1[leaf] == sig0[leaf], "untouched leaf was rewritten"
    assert sig1[os.path.join("yr=2025", "q=1")] != sig0[os.path.join("yr=2025", "q=1")]


def test_row_level_change_feed(spark, tmp_path):
    """change_feed=True: bootstrap emits batch 0 (all insert); each
    upsert commits insert/update_pre/update_post row sets atomically
    with the data; read_changes(since_batch) prunes to newer batches."""
    tbl = str(tmp_path / "tbl")
    ps.upsert_parquet(
        _mk(spark, BASE, SCHEMA), tbl, ["id"], ["yr"], change_feed=True
    )
    ps.upsert_parquet(
        _mk(spark, BATCH, SCHEMA), tbl, ["id"], ["yr"], change_feed=True
    )
    feed = {
        (r["_batch"], r["_change_type"], r["id"], r["v"])
        for r in ps.read_changes(spark, tbl).collect()
    }
    assert feed == {
        (0, "insert", 1, "a"),
        (0, "insert", 2, "b"),
        (0, "insert", 3, "c"),
        (1, "update_pre", 3, "c"),
        (1, "update_post", 3, "c2"),
        (1, "insert", 4, "d"),
        (1, "insert", 5, "e"),
    }
    inc = {
        (r["_change_type"], r["id"])
        for r in ps.read_changes(spark, tbl, since_batch=0).collect()
    }
    assert inc == {("update_pre", 3), ("update_post", 3), ("insert", 4), ("insert", 5)}
    # the feed dir is invisible to table readers
    assert _table_rows(spark, tbl) == NEW_STATE


def test_change_feed_crash_commits_with_data(spark, tmp_path, monkeypatch):
    """A crash BEFORE the journal leaves neither new data nor a new feed
    batch (the two can never disagree about a commit)."""
    tbl = str(tmp_path / "tbl")
    ps.upsert_parquet(
        _mk(spark, BASE, SCHEMA), tbl, ["id"], ["yr"], change_feed=True
    )

    def dying(src, dst):
        raise _Crash("first rename dies")

    real = ps._rename
    monkeypatch.setattr(ps, "_rename", dying)
    with pytest.raises(_Crash):
        ps.upsert_parquet(
            _mk(spark, BATCH, SCHEMA), tbl, ["id"], ["yr"], change_feed=True
        )
    monkeypatch.setattr(ps, "_rename", real)
    # journal existed (written before renames) -> roll forward: data AND
    # feed batch both land
    assert _table_rows(spark, tbl) == NEW_STATE
    batches = {r["_batch"] for r in ps.read_changes(spark, tbl).collect()}
    assert batches == {0, 1}


def test_plan_layer_change_feed_roundtrip(spark, tmp_path):
    """load.change_feed reaches the sink through the YAML plan layer."""
    from agentic_etl_poc_spark.runtime import run_from_plan

    tbl = str(tmp_path / "tbl")
    region = "/root/testdata/sf0.001/region.parquet"
    plan = f"""
source:
  kind: parquet
  parquet:
    path: "{region}"
transform:
  sql: SELECT r_regionkey AS id, CAST(r_regionkey % 2 AS INT) AS grp,
       r_name AS v FROM input_df
checks:
  min_rows: 1
load:
  to: parquet
  file_path: "{tbl}"
  mode: upsert
  partition_by: [grp]
  key_cols: [id]
  change_feed: true
verify:
  min_rows: 1
"""
    result = run_from_plan(spark, plan)
    assert result["status"] == "ok", result
    assert ps.read_changes(spark, tbl).count() == 5  # bootstrap inserts
    result = run_from_plan(spark, plan)
    assert result["status"] == "ok", result
    # idempotent re-upsert: every key updates in place
    types = {
        (r["_change_type"],)
        for r in ps.read_changes(spark, tbl, since_batch=0).collect()
    }
    assert types == {("update_pre",), ("update_post",)}
    assert ps.read_table(spark, tbl).count() == 5
