"""The benchmark's two workloads: what each item runs and how it is checked.

An *item* is one timed call into the engine.  Every item has

- ``prepare()``: untimed; puts the on-disk state the item reads back to
  the same starting point (outputs, ledger, stream checkpoint), so
  every run and every pass measures the same work;
- ``run(tr)``: the timed call.  ``tr`` is a tracer or ``None``; the item
  opens its own ``queries.build``/``queries.force`` spans through it;
- ``check(con)``: untimed, after the timed passes; compares what the last
  timed call produced (a battery entry's frame, a plan's artifacts) with
  DuckDB over the same generated tables, so it checks the warm path the
  timed passes measured (persisted shared frames, checkpoints), and
  returns a problem string or ``""``.

``query_battery`` runs battery entries forced to the ``noop`` sink.
``plan_lifecycle`` runs YAML plans through ``runtime``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import duckdb

#: The ``query_battery`` workload: every forty-second of the sorted ``q*``
#: relational entries from the thirtieth on (two: null semantics, an
#: anti-join over aggregates) ...
QUERY_SQL_OFFSET, QUERY_SQL_STRIDE = 29, 42

#: ... plus one kernel: iterative PageRank over the session-shared edge
#: checkpoint, with an eagerly checkpointed node frame (g01).
#: ``sample_check.py`` compares both samples with their full families on
#: jobs per entry and warm latency.
QUERY_KERNELS = ("g01_integer_pagerank",)


def maybe_span(tr, name: str):
    return tr.span(name) if tr is not None else contextlib.nullcontext()


@dataclass
class Item:
    name: str
    run: Callable[[object], None]
    prepare: Callable[[], None] = lambda: None
    check: Callable[[duckdb.DuckDBPyConnection], str] | None = None


def _rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return sorted(tuple(str(v) for v in r) for r in con.execute(sql).fetchall())


def _diff(got: list[tuple], want: list[tuple]) -> str:
    if got == want:
        return ""
    extra = sorted(set(got) - set(want))[:2]
    missing = sorted(set(want) - set(got))[:2]
    return f"{len(got)} rows vs {len(want)} expected; extra {extra} missing {missing}"


# -- battery workloads ---------------------------------------------------
def sql_names(names) -> list[str]:
    return sorted(n for n in names if n.startswith("q"))


def kernel_names(names) -> list[str]:
    return sorted(n for n in names if n[0] in "dsg")


def battery_names() -> list[str]:
    from agentic_etl_poc_spark.queries import load_all

    return sql_names(load_all())[QUERY_SQL_OFFSET::QUERY_SQL_STRIDE] + list(
        QUERY_KERNELS
    )


def battery_items(spark, data_dir: str) -> list[Item]:
    from agentic_etl_poc_spark.queries import load_all

    from tests.oracle_diff import compare

    specs = load_all()
    items = []
    for name in battery_names():
        spec, last = specs[name], {}

        def run(tr, fn=spec.fn, last=last):
            with maybe_span(tr, "queries.build"):
                df = fn(spark, data_dir)
            with maybe_span(tr, "queries.force"):
                df.write.format("noop").mode("overwrite").save()
            last["df"] = df

        def check(con, oracle=spec.oracle, last=last):
            if "df" not in last:
                return "no timed call succeeded"
            r = compare(last["df"], con, oracle)
            return "" if r["ok"] else r["detail"][:300]

        items.append(Item(name=name, run=run, check=check))
    return items


# -- plan lifecycle --------------------------------------------------------
_ALERT = 'alerts:\n  on_fail: "slack://#data-alerts"\n'

_QUARANTINE_ORACLE = """
SELECT priority, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS VARCHAR) AS total_price
FROM (SELECT CASE WHEN o_orderkey % 7 = 0 THEN '__quarantined__'
                  ELSE o_orderpriority END AS priority, o_totalprice
      FROM orders)
GROUP BY 1
"""

#: events the incremental plan must load: the batch after the watermark
_INC_CUT = "(SELECT max(ts) - INTERVAL 7 DAY FROM events)"
_INC_ORACLE = f"""
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
FROM events WHERE ts > {_INC_CUT}
"""

_STREAM_ORACLE = """
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS VARCHAR) AS total_value
FROM {src}
WHERE event_type IN ('click', 'view', 'purchase')
GROUP BY 1
"""

def _reset(*paths: str) -> None:
    for p in paths:
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)


def stage_plan_inputs(data_dir: str, root: str) -> dict[str, str]:
    """Write every plan's source files under ``root`` from the generated
    tables (DuckDB does the staging, so no Spark work lands here).  The
    incremental source holds two event batches split at ``_INC_CUT``;
    ``inc_watermark`` is the first batch's high-watermark, written the way
    ``run_from_plan`` writes it to the ledger."""
    from tests.oracle_diff import duckdb_conn

    p = {
        "inc": os.path.join(root, "inc_src"),
        "topic": os.path.join(root, "topic"),
    }
    for d in (p["inc"], p["topic"]):
        os.makedirs(d, exist_ok=True)
    con = duckdb_conn(data_dir)
    try:
        for name, op in (("batch1", "<="), ("batch2", ">")):
            con.execute(
                "COPY (SELECT event_id, ts, user_id, event_type FROM events "
                f"WHERE ts {op} {_INC_CUT}) TO '{p['inc']}/{name}.parquet' (FORMAT PARQUET)"
            )
        p["inc_watermark"] = con.execute(
            "SELECT strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') FROM events "
            f"WHERE ts <= {_INC_CUT}"
        ).fetchone()[0]
        con.execute(
            "COPY (SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS ts, "
            "user_id, event_type, value, props FROM events) "
            f"TO '{p['topic']}/part-00000.json' (FORMAT JSON)"
        )
    finally:
        con.close()
    return p


def plan_items(spark, data_dir: str, root: str, staged: dict[str, str]) -> list[Item]:
    from agentic_etl_poc_spark import runtime
    from agentic_etl_poc_spark.memory import RunLedger

    out = os.path.join(root, "out")
    d = data_dir
    items: list[Item] = []

    def plan_item(name, text, expect="ok", prepare=lambda: None, check=None, n_alerts=0):
        def run(tr):
            alerts: list[str] = []
            res = runtime.run_from_plan(
                spark,
                text,
                send_alert=lambda ch, msg: alerts.append(msg) or "sent",
                report_status=lambda step, detail: "ok",
            )
            if res.get("status") != expect or len(alerts) != n_alerts:
                raise RuntimeError(
                    f"{name}: status {res.get('status')!r} with {len(alerts)} "
                    f"alert(s), expected {expect!r} with {n_alerts}: {res}"
                )

        items.append(Item(name=name, run=run, prepare=prepare, check=check))

    # 1. quarantine split: NULL-priority rows routed to their own sink
    clean, bad = f"{out}/quarantine/clean", f"{out}/quarantine/bad"
    plan_item(
        "quarantine",
        f"""
source:
  kind: parquet
  parquet:
    path: {d}/orders.parquet
transform:
  sql: |
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS priority,
           o_totalprice
    FROM input_df
checks:
  min_rows: 1
  nonnull_cols: [priority]
  quarantine_path: {bad}
load:
  to: parquet
  file_path: {clean}
{_ALERT}""",
        prepare=lambda: _reset(clean, bad),
        check=lambda con: _diff(
            _rows(con, "SELECT priority, COUNT(*), CAST(CAST(SUM(CAST(o_totalprice AS "
                       "DECIMAL(28,6))) AS DECIMAL(28,6)) AS VARCHAR) FROM ("
                       f"SELECT priority, o_totalprice FROM read_parquet('{clean}/*.parquet') "
                       "UNION ALL SELECT '__quarantined__', o_totalprice FROM "
                       f"read_parquet('{bad}/*.parquet')) GROUP BY 1"),
            _rows(con, _QUARANTINE_ORACLE),
        ),
    )

    # 2. watermark-incremental tick on a RunLedger: the ledger holds the
    #    first batch's watermark, so only the second batch loads, and the
    #    watermark advances to the newest event
    inc_out, ledger = f"{out}/inc", f"{root}/ledger.db"

    def inc_prepare():
        _reset(inc_out, ledger)
        RunLedger(ledger).set_state("watermark:events", staged["inc_watermark"])

    def inc_check(con):
        problem = _diff(
            _rows(con, "SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S'), "
                       f"event_type FROM read_parquet('{inc_out}/*.parquet')"),
            _rows(con, _INC_ORACLE),
        )
        want = con.execute(
            "SELECT strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') FROM events"
        ).fetchone()[0]
        got = RunLedger(ledger).get_state("watermark:events")
        return problem or ("" if got == want else f"watermark {got!r} != {want!r}")

    plan_item(
        "incremental",
        f"""
source:
  kind: parquet
  parquet:
    path: {staged['inc']}/*
transform:
  sql: SELECT event_id, ts, user_id, event_type FROM input_df
load:
  to: parquet
  file_path: {inc_out}
  mode: append
checks:
  min_rows: 0
incremental:
  ts_col: ts
  ledger: {ledger}
  key: events
""",
        prepare=inc_prepare,
        check=inc_check,
    )

    # 3. stream plan drained with Trigger.AvailableNow
    st_out = f"{out}/stream"
    plan_item(
        "stream_drain",
        f"""
source:
  kind: stream
  stream:
    path: {staged['topic']}
    schema: "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    watermark_col: ts
transform:
  sql: |
    SELECT event_id, user_id, event_type, ts, value
    FROM input_df
    WHERE event_type IN ('click', 'view', 'purchase')
load:
  to: parquet
  file_path: {st_out}
checks:
  min_rows: 1
  nonnull_cols: [event_id, ts]
{_ALERT}""",
        prepare=lambda: _reset(st_out, st_out + "_checkpoint"),
        check=lambda con: _diff(
            _rows(con, _STREAM_ORACLE.format(src=f"read_parquet('{st_out}/*.parquet')")),
            _rows(con, _STREAM_ORACLE.format(src="events")),
        ),
    )

    # 4. a plan the DQ gate must reject: failed status, one alert, no load
    rej_out = f"{out}/rejected"
    plan_item(
        "dq_reject",
        f"""
source:
  kind: parquet
  parquet:
    path: {d}/customer.parquet
transform:
  sql: |
    SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
    FROM input_df
load:
  to: parquet
  file_path: {rej_out}
checks:
  min_rows: 1
  nonnull_cols: [bal]
{_ALERT}""",
        expect="failed",
        n_alerts=1,
        prepare=lambda: _reset(rej_out),
        check=lambda con: f"{rej_out} was written" if os.path.exists(rej_out) else "",
    )

    return items
