"""The session's parquet read memo (``io_tables.read_parquet``).

``table()`` and the plan runtime's parquet sources share one memo of lazy
read handles, keyed on a stat fingerprint of every file the read lists.
These tests pin that a memo hit never serves stale data: a rewritten
source file and a file added to a directory or glob source are read
fresh by the next plan run, and a path the memo cannot fingerprint is
never memoized.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from agentic_etl_poc_spark import io_tables
from agentic_etl_poc_spark.runtime import run_from_plan

pytestmark = pytest.mark.usefixtures("fresh_read_memo")


def _write(path, ids, v=lambda i: i * 10):
    pq.write_table(pa.table({"id": ids, "v": [v(i) for i in ids]}), str(path))


def _plan(src, out) -> str:
    return f"""
source:
  kind: parquet
  parquet:
    path: {src}
transform:
  sql: SELECT id, v FROM input_df
checks:
  min_rows: 1
  nonnull_cols: [id]
load:
  to: parquet
  file_path: {out}
  mode: overwrite
"""


def _run_rows(spark, src, out) -> list[tuple]:
    res = run_from_plan(
        spark, _plan(src, out), report_status=lambda step, detail: "ok"
    )
    assert res["status"] == "ok", res
    rows = sorted(tuple(r) for r in spark.read.parquet(str(out)).collect())
    assert res["dq"]["rows"] == res["verify"]["rows"] == len(rows)
    return rows


def test_rewritten_source_file_is_read_fresh(spark, tmp_path):
    """The rewrite also changes ``v``'s type: a stale handle would keep
    the old schema."""
    src, out = tmp_path / "src.parquet", tmp_path / "out"
    _write(src, [1, 2, 3])
    assert _run_rows(spark, src, out) == [(1, 10), (2, 20), (3, 30)]
    assert _run_rows(spark, src, out) == [(1, 10), (2, 20), (3, 30)]  # memo hit
    _write(src, [7, 8], v=lambda i: f"x{i}")
    assert _run_rows(spark, src, out) == [(7, "x7"), (8, "x8")]
    assert len(io_tables._HANDLES[spark]) == 1  # replaced, not added


@pytest.mark.parametrize("glob_src", [False, True], ids=["directory", "glob"])
def test_file_added_to_source_is_read(spark, tmp_path, glob_src):
    src, out = tmp_path / "src", tmp_path / "out"
    os.makedirs(src)
    path = f"{src}/*" if glob_src else str(src)
    _write(src / "batch1.parquet", [1, 2])
    assert _run_rows(spark, path, out) == [(1, 10), (2, 20)]
    _write(src / "batch2.parquet", [3])
    assert _run_rows(spark, path, out) == [(1, 10), (2, 20), (3, 30)]


def test_unchanged_source_is_one_handle(spark, tmp_path):
    src = tmp_path / "src"
    os.makedirs(src)
    _write(src / "a.parquet", [1])
    for p in (str(src / "a.parquet"), str(src), f"{src}/*"):
        assert io_tables.read_parquet(spark, p) is io_tables.read_parquet(spark, p)
    # a different variant is a different handle over the same files
    other = io_tables.read_parquet(spark, str(src), spark.read.parquet, "other")
    assert other is not io_tables.read_parquet(spark, str(src))


def test_path_without_fingerprint_is_never_memoized(spark, tmp_path):
    f = tmp_path / "a.parquet"
    _write(f, [1, 2])
    uri = f"file://{f}"
    assert io_tables.fingerprint(uri) is None
    assert io_tables.fingerprint(str(tmp_path / "missing")) is None
    assert io_tables.fingerprint(f"{tmp_path}/nothing*") is None
    a = io_tables.read_parquet(spark, uri)
    b = io_tables.read_parquet(spark, uri)
    assert a is not b
    assert a.count() == b.count() == 2
    assert not io_tables._HANDLES.get(spark)
