"""Post-load verification — re-reads the written ARTIFACT, not the
in-memory frame (that is the point: it catches sink corruption).

Parity with the reference's two verifiers (SURVEY §2.4):

- ``verify_csv`` (reference: etl_agent/ops.py:49-109): file exists &
  non-empty; with column checks → re-read computing rows / per-col
  non-null / max-timestamp lag (tz-naive treated as UTC); without → fast
  path: raw line count minus header + file-mtime freshness.  Result JSON
  keys match: ``{"rows", "nonnull_ok", "fresh_ok", "lag_minutes",
  "status"}`` (or ``{"status": false, "error": "file_not_found: ..."}``).
  The re-read is a Spark scan with column pruning — Catalyst reads only
  the checked columns, the distributed equivalent of the reference's
  ``usecols`` + 200k-row chunking (reference: ops.py:65-98).
- ``verify_table`` (reference: etl_agent/tools.py:120-168): COUNT(*) and
  MAX(ts) computed IN the sink DB via JDBC pushdown — the data never
  leaves the database.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import SparkSession

from agentic_etl_poc_spark.operators.quality import gate_stats, lag_minutes

DEFAULT_MAX_LAG_MINUTES = 180


def _quote_ident(name: str, conn_str: str) -> str:
    """Dialect-aware identifier quoting for the verify queries.

    Double quotes are ANSI identifier quotes (Postgres / Derby / SQLite /
    DuckDB) — that path delegates to the sink's shared ``quote_ident``
    (dot-splitting + embedded-quote doubling); the MySQL family treats
    double quotes as string literals unless ANSI_QUOTES is on, so it
    gets backticks.  The dialect is read from the URL SCHEME only
    (``jdbc:`` prefix stripped, SQLAlchemy ``+driver`` suffix dropped) —
    a substring match over the whole string would misfire on paths like
    ``jdbc:derby:/data/mysql_migration``.  Already-quoted input passes
    through untouched so callers with exotic names keep control.
    """
    from agentic_etl_poc_spark.sinks.jdbc_sink import quote_ident

    if name.startswith(("`", '"')):
        return name
    s = conn_str.lower()
    if s.startswith("jdbc:"):
        s = s[len("jdbc:"):]
    scheme = s.split(":", 1)[0].split("+", 1)[0]
    if scheme in ("mysql", "mariadb"):
        return ".".join(
            "`" + p.replace("`", "``") + "`" for p in name.split(".")
        )
    return quote_ident(name)


def verify_csv(
    spark: SparkSession,
    path: str,
    min_rows: int = 1,
    nonnull_cols: list[str] | None = None,
    timestamp_col: str = "",
    max_lag_minutes: float = DEFAULT_MAX_LAG_MINUTES,
    delimiter: str = ",",
    include_header: bool = True,
) -> dict:
    """``include_header`` must mirror the LOAD step's setting: reading a
    headerless artifact with header=True consumes the first data row as
    column names (row count off by one, nonnull columns unfindable) —
    the reference hardcodes header=True and has exactly that flaw."""
    nonnull_cols = nonnull_cols or []
    if not os.path.exists(path):
        return {"status": False, "error": f"file_not_found: {path}"}
    if os.path.getsize(path) == 0:
        return {"status": False, "error": "empty_file"}

    rows = 0
    nonnull_ok = True
    fresh_ok = True
    lag_min: float | None = None

    if nonnull_cols or timestamp_col:
        df = (
            spark.read.option("header", include_header)
            .option("sep", delimiter)
            .option("nullValue", "NA")
            .csv(path)
        )
        stats = gate_stats(df, nonnull_cols, timestamp_col)
        rows = stats["rows"]
        nonnull_ok = all(int(n or 0) == 0 for n in stats["nulls"].values())
        if "max_ts" in stats:
            lag_min = lag_minutes(stats["max_ts"])
            if lag_min is not None:
                fresh_ok = lag_min <= max_lag_minutes
    else:
        # Fast path: cheaper than a Spark job for "does the file have N
        # lines" (reference: ops.py:101-106) — driver-side line count +
        # mtime freshness fallback.
        with open(path, encoding="utf-8", errors="ignore") as f:
            rows = sum(1 for _ in f) - (1 if include_header else 0)
        mtime = _dt.datetime.fromtimestamp(os.path.getmtime(path), _dt.timezone.utc)
        lag_min = lag_minutes(mtime)
        fresh_ok = lag_min <= max_lag_minutes

    status = (rows >= min_rows) and nonnull_ok and fresh_ok
    return {
        "rows": rows,
        "nonnull_ok": nonnull_ok,
        "fresh_ok": fresh_ok,
        "lag_minutes": lag_min,
        "status": status,
    }


def verify_table(
    spark: SparkSession,
    conn_str: str,
    table: str,
    ts_col: str = "",
    max_lag_minutes: float = DEFAULT_MAX_LAG_MINUTES,
) -> dict:
    """Post-load check of a DB sink — COUNT/MAX pushed down via JDBC."""
    from agentic_etl_poc_spark.sources.jdbc_source import fetch_db

    # Aliases are quoted dialect-aware (unquoted identifiers case-fold
    # per engine — Derby uppercases -> row["n"] misses; MySQL needs
    # backticks because double quotes are string literals there).  The
    # TABLE identifier stays deliberately UNQUOTED: Spark's JDBC writer
    # issues CREATE TABLE with the name unquoted, so the stored name
    # case-folds per engine — verify must case-fold the same way to find
    # it (quoting a lowercase name here would miss Derby's ORDERS_AGG).
    # Pre-quoted names pass through _quote_ident untouched, so callers
    # verifying a mixed-case table they created themselves can quote it.
    qa = _quote_ident("n", conn_str)
    try:
        cnt_df = fetch_db(
            spark, conn_str, f"SELECT COUNT(*) AS {qa} FROM {table}"
        )
        rows = int(cnt_df.collect()[0]["n"])
    except Exception as e:  # reference reports engine errors, not raises
        return {"status": False, "error": f"engine_error: {e}"}

    lag_min: float | None = None
    fresh_ok = True
    if ts_col:
        try:
            ts_df = fetch_db(
                spark,
                conn_str,
                f"SELECT MAX({ts_col}) AS {_quote_ident('m', conn_str)} "
                f"FROM {table}",
            )
            lag_min = lag_minutes(ts_df.collect()[0]["m"])
            if lag_min is not None:
                fresh_ok = lag_min <= max_lag_minutes
        except Exception as e:
            return {"status": False, "error": f"verify_error: {e}", "rows": rows}

    return {
        "rows": rows,
        "fresh_ok": fresh_ok,
        "lag_minutes": lag_min,
        "status": rows > 0 and fresh_ok,
    }
