"""Spark actions per graph-entry call, and g01's broadcast guard.

The graph entries share one memoized graph per (session, tables dir):
the checkpointed edge list and its checkpointed degree frame, built
together on first use, plus the node count observed while the degree
frame was checkpointed (``graphq._graph``).  A warm call therefore runs
only its own jobs.  These tests pin

- the exact number of Spark jobs a warm g01 / g03 call (build plus a
  ``noop`` write) runs in a test-owned job group — an added action shows
  up as a diff here;
- that a repeated ``shared_edges`` / ``shared_degrees`` call runs no job
  and returns the very frames the memo holds;
- g01's node-scale ``BROADCAST`` hints: present while node count x 16 B
  fits ``spark.sql.autoBroadcastJoinThreshold``, absent beyond it or when
  broadcasting is disabled, and the result oracle-equal either way.
"""

from __future__ import annotations

import pytest

from agentic_etl_poc_spark.queries import graphq, load_all
from tests.conftest import count_jobs, formatted_plan
from tests.oracle_diff import compare, duckdb_conn

ALL = load_all()
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _warm_jobs(spark, sf, name: str) -> int:
    fn = ALL[name].fn

    def call():
        fn(spark, sf).write.format("noop").mode("overwrite").save()

    call()  # cold: builds the session's graph memo
    _, jobs = count_jobs(spark, f"warm-{name}", call)
    return jobs


def test_g01_warm_call_jobs(spark, sf_smoke):
    # the three rounds' jobs only: no degree aggregate, no checkpoint
    assert _warm_jobs(spark, sf_smoke, "g01_integer_pagerank") == 8


def test_g03_warm_call_jobs(spark, sf_smoke):
    # seed + three frontier checkpoints and the level rollup
    assert _warm_jobs(spark, sf_smoke, "g03_bfs_levels") == 26


def test_graph_memo_runs_no_job_when_warm(spark, sf_smoke):
    e = graphq.shared_edges(spark, sf_smoke)
    deg = graphq.shared_degrees(spark, sf_smoke)
    (e2, deg2), jobs = count_jobs(
        spark,
        "graph-memo-warm",
        lambda: (
            graphq.shared_edges(spark, sf_smoke),
            graphq.shared_degrees(spark, sf_smoke),
        ),
    )
    assert jobs == 0
    assert e2 is e and deg2 is deg
    # the memo's key shape: {session: {tables dir: (fingerprint, graph)}}
    assert graphq._EDGES[spark][sf_smoke][1].edges is e


def test_observed_node_count(spark, sf_smoke):
    g = graphq._graph(spark, sf_smoke)
    assert g.n_nodes == g.degrees.count() > 0
    assert g.degrees.columns == ["node", "d"]


@pytest.fixture(scope="module")
def smoke_con(sf_smoke):
    c = duckdb_conn(sf_smoke)
    yield c
    c.close()


@pytest.mark.parametrize(
    "threshold, broadcast",
    [(None, True), ("1000", False), ("-1", False)],
    ids=["session-default", "1000B", "disabled"],
)
def test_g01_broadcast_guard(spark, sf_smoke, smoke_con, threshold, broadcast):
    # 1000 B must be below the node frames' size, or the case tests nothing
    n_nodes = graphq._graph(spark, sf_smoke).n_nodes
    assert n_nodes * graphq.NODE_ROW_BYTES > 1000
    saved = spark.conf.get(THRESHOLD)
    try:
        if threshold is not None:
            spark.conf.set(THRESHOLD, threshold)
        df = ALL["g01_integer_pagerank"].fn(spark, sf_smoke)
        assert ("BroadcastExchange" in formatted_plan(df)) is broadcast
        r = compare(df, smoke_con, ALL["g01_integer_pagerank"].oracle)
        assert r["ok"], r["detail"]
    finally:
        spark.conf.set(THRESHOLD, saved)
