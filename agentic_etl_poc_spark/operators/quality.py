"""Data-quality gate — the reference's signature feature, as ONE Spark job.

The reference checks row count then scans each nonnull column separately in
pandas (reference: etl_agent/ops.py:34-47).  Here all checks collapse into
a single aggregate:

    agg(count(*), sum(isnull(c1)), ..., max(ts))

one distributed pass, map-side partial aggregation, no per-column rescans —
the shape that still works when the frame is 100 TB.

Result dict matches the reference's JSON exactly:
``{"rows": n, "status": bool, "error": str|None}`` with first-failure-wins
error text (``min_rows check failed: n < m`` / ``nonnull check failed: c``);
optional freshness adds ``lag_minutes``/``fresh_ok`` (reference:
tools.py:106-118 declares freshness; the executor never passes it —
SURVEY §2.4 — we support it properly).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lag_minutes(ts: _dt.datetime | None) -> float | None:
    """Minutes from ``ts`` to now; a tz-naive ``ts`` is read as UTC."""
    if ts is None:
        return None
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return (_dt.datetime.now(_dt.timezone.utc) - ts).total_seconds() / 60.0


def gate_stats(
    df: DataFrame, nonnull_cols: list[str] | None = None, ts_col: str = ""
) -> dict:
    """The ONE aggregate behind every gate: ``count(*)``, one null count
    per listed column present in ``df``, and ``max(ts_col)`` when that
    column is present.  ``dq_verdict``, ``verify_csv`` and
    ``verify_parquet`` each derive their result dict from this; a caller
    that needs two verdicts over the same frame (the stream tail) passes
    the union of their columns and pays one scan.

    Null sums stay raw (``None`` over zero rows): each verdict keeps its
    own reading of an empty frame."""
    present = [c for c in dict.fromkeys(nonnull_cols or []) if c in df.columns]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in present:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}"))
    has_ts = bool(ts_col) and ts_col in df.columns
    if has_ts:
        aggs.append(F.max(F.col(ts_col).cast("timestamp")).alias("__max_ts"))

    from agentic_etl_poc_spark import plan_capture

    agg_df = df.agg(*aggs)
    plan_capture.note("dq_agg", agg_df)
    row = agg_df.collect()[0].asDict()
    stats = {
        "columns": list(df.columns),
        "rows": int(row["__rows"]),
        "nulls": {c: row[f"__nulls__{c}"] for c in present},
    }
    if has_ts:
        stats["max_ts"] = row["__max_ts"]
    return stats


def dq_check(
    df: DataFrame,
    min_rows: int = 1,
    nonnull_cols: list[str] | None = None,
    freshness_minutes: float | None = None,
    timestamp_col: str = "",
) -> dict:
    stats = gate_stats(
        df, nonnull_cols, timestamp_col if freshness_minutes else ""
    )
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


def observed_write(
    df: DataFrame,
    write_fn,
    nonnull_cols: list[str] | None = None,
) -> dict:
    """Single-action write-plus-metrics via Spark's Observation API: the
    row count and per-column null counts are accumulated DURING the sink
    action, so the pipeline pays ONE pass instead of write-then-count.
    The plan runtime's quarantine split writes its violating rows through
    here and reports the observed row count as ``dq.quarantined``.

    Trade-off vs the pre-load gate (dq_check): metrics arrive only after
    the write has happened, so this is validate-after-write (pair it with
    a staging path + promote-on-ok), while dq_check aborts BEFORE the sink
    sees any data at the cost of a second pass.  Both shapes are needed;
    the reference only had the two-pass form (reference:
    etl_agent/templates.py:123-140).

    ``write_fn(observed_df)`` must trigger exactly one action.
    """
    from pyspark.sql import Observation

    nonnull_cols = [c for c in (nonnull_cols or []) if c in df.columns]
    metrics = [F.count(F.lit(1)).alias("rows")]
    for c in nonnull_cols:
        metrics.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"))
    obs = Observation("dq")
    write_fn(df.observe(obs, *metrics))
    got = obs.get
    null_counts = {c: int(got[f"nulls_{c}"] or 0) for c in nonnull_cols}
    return {
        "rows": int(got["rows"]),
        "null_counts": null_counts,
        "nonnull_ok": all(v == 0 for v in null_counts.values()),
    }
