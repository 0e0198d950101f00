"""Session memos and staged copies follow a fixture rewritten mid-session.

Every reuse in the package is keyed on ``io_tables.fingerprint``: the
session memos (``read_parquet``/``table()``, ``shared_frame``, the graph
memo) through ``io_tables.memo``, the staged /tmp copies through
``queries/core.py::staged``.  Each case below reads a table copy, rewrites
``orders`` or ``events`` with half its rows in the same session, and
requires the next call to read the new rows; with the fixture unchanged,
a repeated call must run no Spark job and leave the staged copy's
done-marker alone.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest

from agentic_etl_poc_spark.io_tables import table
from agentic_etl_poc_spark.queries import core, graphq, load_all, pipeline, streamq
from tests.conftest import count_jobs
from tests.oracle_diff import compare, duckdb_conn

ALL = load_all()


@pytest.fixture
def fx(tmp_path, sf_smoke, monkeypatch) -> str:
    """A writable copy of the smoke tables; what it stages lands under
    ``tmp_path`` too, and goes with it."""
    d = str(tmp_path / "sf")
    shutil.copytree(sf_smoke, d, copy_function=shutil.copyfile)
    os.makedirs(tmp_path / "tmp")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    return d


def _halve(fx: str, name: str) -> int:
    """Rewrite ``name`` in place with its first half of rows."""
    path = os.path.join(fx, f"{name}.parquet")
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)
    return t.num_rows // 2


def _warm(spark, fn):
    """Run ``fn`` again with nothing changed: no Spark job."""
    out, jobs = count_jobs(spark, "memo-invalidation-warm", fn)
    assert jobs == 0
    return out


def _marker_mtime(root: str) -> int:
    return os.stat(os.path.join(root, "_STAGED")).st_mtime_ns


def _oracle_ok(spark, fx: str, name: str) -> None:
    con = duckdb_conn(fx)
    try:
        r = compare(ALL[name].fn(spark, fx), con, ALL[name].oracle)
    finally:
        con.close()
    assert r["ok"], r


def test_table_reads_rewritten_source(spark, fx):
    assert table(spark, fx, "orders").count() == 1500
    _warm(spark, lambda: table(spark, fx, "orders"))
    n = _halve(fx, "orders")
    assert table(spark, fx, "orders").count() == n


@pytest.mark.parametrize("first", ["table", "shared_frame"])
def test_persisted_shared_frame_is_replaced(spark, fx, first):
    """A stale persisted frame must serve neither its own rebuild nor a
    fresh read of the same source (Spark's CacheManager matches both
    plans to the old cache), whichever of the two comes first."""

    def call():
        return core.shared_frame(
            spark, fx, "memo-invalidation", lambda: table(spark, fx, "orders")
        )

    sf = call()
    assert sf.count() == 1500
    assert _warm(spark, call) is sf
    n = _halve(fx, "orders")
    if first == "table":
        assert table(spark, fx, "orders").count() == n
    assert call().count() == n
    assert table(spark, fx, "orders").count() == n
    core.clear_shared_frames(spark)


def test_graph_memo_rebuilds(spark, fx):
    e = graphq.shared_edges(spark, fx)
    n_edges = e.count()
    _warm(spark, lambda: graphq.shared_edges(spark, fx))
    _warm(spark, lambda: graphq.shared_degrees(spark, fx))
    _halve(fx, "orders")
    con = duckdb_conn(fx)
    try:
        pairs = con.execute(
            "SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey, l_suppkey "
            "FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"
        ).fetchone()[0]
    finally:
        con.close()
    assert 2 * pairs < n_edges
    assert graphq.shared_edges(spark, fx).count() == 2 * pairs
    g = graphq._graph(spark, fx)
    assert g.n_nodes == graphq.shared_degrees(spark, fx).count()
    _oracle_ok(spark, fx, "g01_integer_pagerank")


def _ndjson_rows(d: str) -> int:
    return sum(
        sum(1 for _ in open(os.path.join(d, f)))
        for f in os.listdir(d)
        if f.endswith(".json")
    )


def test_events_stream_dir_restages(spark, fx):
    src = streamq.events_stream_dir(spark, fx)
    assert _ndjson_rows(src) == 1000
    root = os.path.dirname(src)
    before = _marker_mtime(root)
    assert _warm(spark, lambda: streamq.events_stream_dir(spark, fx)) == src
    assert _marker_mtime(root) == before
    n = _halve(fx, "events")
    assert _ndjson_rows(streamq.events_stream_dir(spark, fx)) == n


def test_parquet_stager_restages(spark, fx):
    name = "q66_bloom_runtime_filter"
    _oracle_ok(spark, fx, name)
    root = core.staged(fx, "q66", ["lineitem", "orders"], None)
    before = _marker_mtime(root)
    _warm(spark, lambda: ALL[name].fn(spark, fx))
    assert _marker_mtime(root) == before
    _halve(fx, "orders")
    _oracle_ok(spark, fx, name)


def test_p13_build_restages(spark, fx):
    name = "p13_lakehouse_upsert"
    _oracle_ok(spark, fx, name)
    tbl, _, _ = pipeline._p13_build_table(spark, fx)
    root = os.path.dirname(tbl)
    before = _marker_mtime(root)
    _warm(spark, lambda: pipeline._p13_build_table(spark, fx))
    assert _marker_mtime(root) == before
    _halve(fx, "orders")
    _oracle_ok(spark, fx, name)


def test_relative_and_absolute_sf_dir_share_a_staged_root(spark, fx, monkeypatch):
    """The staged root is keyed on the realpath: the same tables reached
    through a relative path, an absolute path or a symlink are staged
    once."""
    parent = os.path.dirname(fx)
    os.symlink(fx, os.path.join(parent, "link"))
    src = streamq.events_stream_dir(spark, fx)
    monkeypatch.chdir(parent)
    for other in ("sf", "./sf/", os.path.join(parent, "link")):
        assert _warm(spark, lambda: streamq.events_stream_dir(spark, other)) == src
    builds = []
    roots = {
        core.staged(p, "memo_path_test", ["orders"], builds.append)
        for p in ("sf", fx, "link")
    }
    assert len(roots) == 1 and builds == list(roots)


def test_restaging_keeps_one_copy_per_tag(fx):
    """A restaged fixture replaces every other copy of the tag and sf dir:
    the superseded digest and the flat layout older checkouts left (their
    marker and outputs directly in the sf dir's directory).  A copy whose
    embedded Derby database a live JVM holds stays."""
    import subprocess
    import sys

    def build(root):
        os.makedirs(os.path.join(root, "db"))
        open(os.path.join(root, "db", "dbex.lck"), "w").close()

    first = core.staged(fx, "prune_test", ["orders"], build)
    sf_root = os.path.dirname(first)
    for flat in ("_STAGED", "out.csv"):
        open(os.path.join(sf_root, flat), "w").close()
    _halve(fx, "orders")
    second = core.staged(fx, "prune_test", ["orders"], build)
    assert os.listdir(sf_root) == [os.path.basename(second)]

    # a live process holding the boot lock, as a JVM holds Derby's
    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import fcntl, sys, time; f = open(sys.argv[1], 'r+'); "
         "fcntl.lockf(f, fcntl.LOCK_EX); print('locked', flush=True); time.sleep(60)",
         os.path.join(second, "db", "dbex.lck")],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "locked"
        _halve(fx, "orders")
        third = core.staged(fx, "prune_test", ["orders"], build)
        assert sorted(os.listdir(sf_root)) == sorted(
            os.path.basename(r) for r in (second, third)
        )
    finally:
        holder.kill()
        holder.wait(timeout=10)
