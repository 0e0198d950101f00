"""Data-quality gate — the reference's signature feature, as ONE Spark job.

The reference checks row count then scans each nonnull column separately in
pandas (reference: etl_agent/ops.py:34-47).  Here all checks collapse into
one set of aggregates:

    count(*), sum(isnull(c1)), ..., max(ts)

observed (Spark's ``Observation``): one distributed pass and one Spark
job, with per-task partial aggregates merged on the driver — no exchange,
no per-column rescans, the shape that still works when the frame is
100 TB.  A load that writes a stage first needs no scan at all: the plan
runtime observes the metrics on its stage write (``gate_on``), and a
quarantine split (``quarantine_write``) observes them, restricted to the
clean rows, on its one write of every row into the stage, partitioned by
the violation flag.  A load that writes its target directly (a parquet
upsert, a JDBC table) is gated first, by the metrics observed on a
``noop`` write of only the checked columns (``dq_check``).

Result dict matches the reference's JSON exactly:
``{"rows": n, "status": bool, "error": str|None}`` with first-failure-wins
error text (``min_rows check failed: n < m`` / ``nonnull check failed: c``);
optional freshness adds ``lag_minutes``/``fresh_ok`` (reference:
tools.py:106-118 declares freshness; the executor never passes it —
SURVEY §2.4 — we support it properly).  A plan with a quarantine split
adds ``quarantined``, the count of rows routed away.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lag_minutes(ts: _dt.datetime | None) -> float | None:
    """Minutes from ``ts`` to now; a tz-naive ``ts`` is read as UTC."""
    if ts is None:
        return None
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return (_dt.datetime.now(_dt.timezone.utc) - ts).total_seconds() / 60.0


def observe(df: DataFrame, metrics: list) -> tuple[DataFrame, Callable[[], dict]]:
    """The one ``Observation`` builder: ``df`` with ``metrics`` (aggregate
    columns, by alias) observed on it, and a function that returns them
    once exactly one Spark action over the observed frame has run."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *metrics), lambda: obs.get


def observe_metrics(df: DataFrame, metrics: list, action) -> dict:
    """Run ``action(observed_df)``, which must trigger exactly one Spark
    action, and return the ``metrics`` accumulated during it."""
    observed, got = observe(df, metrics)
    action(observed)
    return got()


def observed_scan(df: DataFrame, cols: list[str], metrics: list, label: str) -> dict:
    """``metrics`` over ``df`` as ONE Spark job with no exchange: they are
    observed on a ``noop`` write of only ``cols``.  A collected global
    aggregate would cost two jobs under AQE (the ``SinglePartition``
    exchange, then the result).  On a persisted frame the same job fills
    the cache, so a later sink write reads it.  The observed plan is
    noted under ``label`` for the eager plan lint."""
    from agentic_etl_poc_spark import plan_capture

    def scan(observed: DataFrame) -> None:
        plan_capture.note(label, observed)
        observed.write.format("noop").mode("overwrite").save()

    return observe_metrics(df.select(*cols), metrics, scan)


def _gate_metrics(cols: list[str], ts_col: str, where=None) -> list:
    """The metrics every gate reads: ``count(*)`` as ``rows``, one null
    count per column as ``nulls_<c>`` and, when ``ts_col`` is set,
    ``max(ts_col)`` as ``max_ts`` — over the rows where ``where`` holds
    (every row when it is None)."""

    def among(e):
        return e if where is None else F.when(where, e)

    metrics = [F.count(among(F.lit(1))).alias("rows")] + [
        F.sum(among(F.col(c).isNull().cast("long"))).alias(f"nulls_{c}")
        for c in cols
    ]
    if ts_col:
        metrics.append(
            F.max(among(F.col(ts_col).cast("timestamp"))).alias("max_ts")
        )
    return metrics


def _stats(got: dict, columns: list[str], cols: list[str], ts_col: str) -> dict:
    """``_gate_metrics``' observed values in ``gate_stats``' shape."""
    stats = {
        "columns": list(columns),
        "rows": int(got["rows"]),
        "nulls": {c: got[f"nulls_{c}"] for c in cols},
    }
    if ts_col:
        stats["max_ts"] = got["max_ts"]
    return stats


def _gate_columns(
    df: DataFrame, nonnull_cols: list[str] | None, ts_col: str
) -> tuple[list[str], str]:
    """The listed columns present in ``df``, and ``ts_col`` if present."""
    present = [c for c in dict.fromkeys(nonnull_cols or []) if c in df.columns]
    return present, ts_col if ts_col and ts_col in df.columns else ""


def gate_stats(
    df: DataFrame, nonnull_cols: list[str] | None = None, ts_col: str = ""
) -> dict:
    """The ONE aggregate behind every gate: ``count(*)``, one null count
    per listed column present in ``df``, and ``max(ts_col)`` when that
    column is present, observed on one scan (``observed_scan``).
    ``dq_verdict``, ``verify_csv`` and ``verify_parquet`` each derive
    their result dict from this; a caller that needs two verdicts over
    the same frame (the stream tail) passes the union of their columns
    and pays one scan.

    Null sums stay raw (``None`` over zero rows): each verdict keeps its
    own reading of an empty frame."""
    present, ts = _gate_columns(df, nonnull_cols, ts_col)
    got = observed_scan(
        df, [*present, ts] if ts else present, _gate_metrics(present, ts),
        "dq_agg",
    )
    return _stats(got, df.columns, present, ts)


def gate_on(
    df: DataFrame, nonnull_cols: list[str] | None = None, ts_col: str = ""
) -> tuple[DataFrame, Callable[[], dict]]:
    """``gate_stats`` without a scan of its own: ``df`` with the same
    metrics observed on it, and a function that returns them in
    ``gate_stats``' shape once the caller's one action over that frame
    (the plan runtime's stage write) has run."""
    present, ts = _gate_columns(df, nonnull_cols, ts_col)
    observed, got = observe(df, _gate_metrics(present, ts))
    return observed, lambda: _stats(got(), df.columns, present, ts)


#: The reserved partition column of the quarantine split's stage write:
#: the write lays the rows out as ``<path>/dq_quarantined=false|true``.
QUARANTINE_FLAG = "dq_quarantined"


def quarantine_write(
    df: DataFrame, nonnull_cols: list[str], path: str, ts_col: str = ""
) -> tuple[str, str, dict]:
    """Write every row of ``df`` into ``path`` (a new directory in the
    run's stage) in ONE job, partitioned
    by whether it has a null in any of ``nonnull_cols``, and take the DQ
    gate's numbers for the CLEAN rows from that same job.

    Returns the clean and the quarantined directory (each a complete
    parquet table with ``_SUCCESS``, empty when no row went there) and
    the clean rows' stats in ``gate_stats``' shape (``ts_col``'s max when
    set) plus ``quarantined``, the violating row count; ``dq_verdict``
    reads them as if it had scanned the clean rows.

    The flag has two values, so the write allows two concurrent writers
    per task (``spark.sql.maxConcurrentOutputFileWriters``): Spark then
    plans no ``Sort`` by the partition column, and nothing here adds an
    exchange."""
    from agentic_etl_poc_spark import plan_capture

    cols = list(dict.fromkeys(nonnull_cols))
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"quarantine nonnull column not found: {missing[0]}")
    if QUARANTINE_FLAG in df.columns:
        raise ValueError(f"column name {QUARANTINE_FLAG!r} is reserved")
    flag = F.col(QUARANTINE_FLAG)
    ts = ts_col if ts_col and ts_col in df.columns else ""
    metrics = _gate_metrics(cols, ts, where=~flag) + [
        F.count(F.when(flag, F.lit(1))).alias("quarantined")
    ]
    conf, key = df.sparkSession.conf, "spark.sql.maxConcurrentOutputFileWriters"

    def write(observed: DataFrame) -> None:
        plan_capture.note("quarantine_sink", observed)
        prev = conf.get(key, None)
        conf.set(key, "2")
        try:
            observed.write.partitionBy(QUARANTINE_FLAG).parquet(path)
        finally:
            if prev is None:
                conf.unset(key)
            else:
                conf.set(key, prev)

    viol = reduce(lambda a, b: a | b, [F.col(c).isNull() for c in cols])
    got = observe_metrics(df.withColumn(QUARANTINE_FLAG, viol), metrics, write)
    sides = [os.path.join(path, f"{QUARANTINE_FLAG}={v}") for v in ("false", "true")]
    for side in sides:
        if os.path.isdir(side):
            for f in ("_SUCCESS", "._SUCCESS.crc"):
                if os.path.exists(os.path.join(path, f)):
                    shutil.copyfile(os.path.join(path, f), os.path.join(side, f))
        else:  # no row went this way: a readable empty table
            df.limit(0).write.parquet(side)
    stats = _stats(got, df.columns, cols, ts)
    stats["quarantined"] = int(got["quarantined"])
    return sides[0], sides[1], stats


def gate_ts(freshness_minutes: float | None, timestamp_col: str) -> str:
    """The column whose max the DQ gate observes: ``timestamp_col``, only
    when a freshness check is set."""
    return timestamp_col if freshness_minutes else ""


def dq_check(
    df: DataFrame,
    min_rows: int = 1,
    nonnull_cols: list[str] | None = None,
    freshness_minutes: float | None = None,
    timestamp_col: str = "",
) -> dict:
    stats = gate_stats(df, nonnull_cols, gate_ts(freshness_minutes, timestamp_col))
    return dq_verdict(
        stats, min_rows, nonnull_cols, freshness_minutes, timestamp_col
    )


def dq_verdict(
    stats: dict,
    min_rows: int = 1,
    nonnull_cols: list[str] | None = None,
    freshness_minutes: float | None = None,
    timestamp_col: str = "",
) -> dict:
    """The DQ result dict from ``gate_stats`` over (at least) these
    columns."""
    # A configured nonnull column that is missing from the frame is itself
    # a DQ FAILURE (misspelled config or a transform dropped the column) —
    # silently skipping it would make the gate vacuously pass, which is
    # the opposite of what a gate is for.  The reference fails loudly here
    # too (tools.py dq_check raises KeyError).
    requested = list(nonnull_cols or [])
    missing = [c for c in requested if c not in stats["columns"]]
    nonnull_cols = [c for c in requested if c in stats["columns"]]
    rows = stats["rows"]

    ok, err = True, None
    if missing:
        ok, err = False, f"nonnull column not found: {', '.join(missing)}"
    elif rows < min_rows:
        ok, err = False, f"min_rows check failed: {rows} < {min_rows}"
    else:
        for c in nonnull_cols:
            if int(stats["nulls"][c] or 0) > 0:
                ok, err = False, f"nonnull check failed: {c}"
                break

    result: dict = {"rows": rows, "status": bool(ok), "error": err}
    check_fresh = bool(freshness_minutes) and timestamp_col in stats["columns"]
    if check_fresh:
        lag_min = lag_minutes(stats["max_ts"])
        fresh_ok = lag_min is None or lag_min <= float(freshness_minutes)
        result["lag_minutes"] = lag_min
        result["fresh_ok"] = fresh_ok
        if ok and not fresh_ok:
            result["status"] = False
            result["error"] = f"freshness check failed: lag {lag_min:.1f} min"
    return result
