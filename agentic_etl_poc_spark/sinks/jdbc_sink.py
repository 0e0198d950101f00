"""JDBC sink: append / replace / upsert, each staged, then published in
one transaction.

The reference's upsert stages to ``{table}_stg`` then merges with
``INSERT ... ON CONFLICT (keys) DO UPDATE`` in one transaction
(reference: etl_agent/tools.py:83-96).  Every mode here takes that shape,
so a load can be verified before its target changes:

1. distributed stage write: ``df.write.jdbc("{table}_stg", overwrite)``
   (``write_stage``) — the data plane stays parallel (N executor
   connections),
2. the plan runtime verifies the stage table (``verify_table``),
3. driver-side transactional publish (``publish``), running entirely
   inside the sink DB — no data moves through the driver: an append
   creates the table if absent and inserts the stage; a replace drops
   the table, creates it with the stage's shape and inserts; an upsert
   merges (``INSERT ... SELECT ... ON CONFLICT DO UPDATE``; Derby's
   ``MERGE INTO``).  A failing statement rolls the whole publish back.

``staging`` drops the stage table afterwards, whether the load passed
or not.  That split is exactly how you'd do it against Postgres at
scale; with a lakehouse sink (Delta/Iceberg) the merge would be
``MERGE INTO`` instead.  Single writer per table: the stage name is
fixed.

DB driver libraries aren't bundled here; calls raise a clear error when
the JDBC driver / DB client is missing (import-gated, per environment
constraints).
"""

from __future__ import annotations

import contextlib
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame

from agentic_etl_poc_spark.sources.jdbc_source import to_jdbc_url


def _jdbc_writer(df: DataFrame, conn_str: str, table: str, mode: str):
    url, props = to_jdbc_url(conn_str)
    writer = (
        df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    )
    for k, v in props.items():
        writer = writer.option(k, v)
    return writer


def load_to_postgres(
    df: DataFrame,
    conn_str: str,
    table: str,
    mode: str = "append",
    key_cols: list[str] | None = None,
    row_count: int | None = None,
) -> str:
    """Load ``df`` into ``table``: write the stage table, then publish
    it in one transaction (steps 1 and 3 of the module docstring)."""
    spark = df.sparkSession
    with staging(spark, conn_str, table) as stage:
        msg = write_stage(df, conn_str, stage, table, mode, key_cols, row_count)
        publish(spark, conn_str, table, stage, mode, key_cols, df.columns)
    return msg


@contextlib.contextmanager
def staging(spark, conn_str: str, table: str):
    """The stage table of ``table`` (``{table}_stg``), dropped when the
    ``with`` block ends (Derby's 42Y55: it was never written).  A drop
    that fails only warns: the load is decided by then (a published
    load must not turn into an error that keeps the watermark back), and
    the next load's stage write replaces the table."""
    stage = f"{table}_stg"
    derby = conn_str.startswith("jdbc:derby:")
    try:
        yield stage
    finally:
        drop = f"DROP TABLE {stage}" if derby else f"DROP TABLE IF EXISTS {quote_ident(stage)}"
        try:
            _execute(spark, conn_str, [drop], ("42Y55",))
        except Exception as e:  # any driver's error: the DB may be unreachable
            warnings.warn(f"stage table {stage} was not dropped: {e}")


def write_stage(
    df: DataFrame,
    conn_str: str,
    stage: str,
    table: str,
    mode: str,
    key_cols: list[str] | None = None,
    row_count: int | Callable[[], int] | None = None,
) -> str:
    """Write ``df`` to the ``stage`` table of a ``mode`` load into
    ``table`` and return the load's message.  ``row_count``, when the
    caller holds it, skips the count; a callable is called after the
    write (a count the caller observes on it)."""
    if mode not in ("append", "replace", "upsert"):
        raise ValueError(f"unknown load mode: {mode!r}")
    if mode == "upsert" and not key_cols:
        raise ValueError("upsert mode requires key_cols")
    n = df.count() if row_count is None else row_count
    _jdbc_writer(df, conn_str, stage, "overwrite").save()
    return f"loaded {n() if callable(n) else n:,} rows into {table} ({mode})"


def publish(
    spark,
    conn_str: str,
    table: str,
    stage: str,
    mode: str,
    key_cols: list[str] | None,
    columns: list[str],
) -> None:
    """Publish the ``stage`` table to ``table`` in one transaction (see
    the module docstring).  ``sqlite://`` conn strings use the stdlib
    driver (always available — also how the statements are unit-tested);
    ``jdbc:derby:`` runs through the Spark JVM (the embedded engine lives
    there); everything else goes through SQLAlchemy, matching the
    reference's engine choice (reference: etl_agent/tools.py:76).

    Derby has no ``IF [NOT] EXISTS``: a CREATE of a table or index that
    exists fails with X0Y32, which is ignored (so two loads racing to
    create the table both reach the insert or merge), and a metadata
    probe decides a replace's DROP."""
    derby = conn_str.startswith("jdbc:derby:")
    exists = not derby or _derby_table_exists(spark, conn_str, table)
    stmts = publish_statements(table, stage, mode, key_cols, columns, derby, exists)
    _execute(spark, conn_str, stmts, ("X0Y32",))


def publish_statements(
    table: str,
    stage: str,
    mode: str,
    key_cols: list[str] | None,
    columns: list[str],
    derby: bool = False,
    exists: bool = True,
) -> list[str]:
    """``publish``'s statements, in the Derby dialect when ``derby``
    (``merge_statements_derby``) or else the Postgres/SQLite one
    (``merge_statements``); ``exists``: whether ``table`` does."""
    merge = merge_statements_derby if derby else merge_statements
    if mode == "upsert":
        return merge(table, stage, key_cols, columns)
    # the merge's CREATE TABLE (and its check of the names); no key index
    create = merge(table, stage, key_cols or columns, columns)[0]
    qt, qs = (table, stage) if derby else (quote_ident(table), quote_ident(stage))
    cols = ", ".join(quote_ident(c) for c in columns)
    drop = f"DROP TABLE {qt}" if derby else f"DROP TABLE IF EXISTS {qt}"
    return [
        *([drop] if mode == "replace" and exists else []),
        create,
        f"INSERT INTO {qt} ({cols}) SELECT {cols} FROM {qs}",
    ]


def quote_ident(name: str) -> str:
    """Double-quote a (possibly schema-qualified) identifier for the
    Postgres/SQLite dialects: each dot-separated part quoted separately
    (``analytics.orders`` → ``"analytics"."orders"``), embedded quotes
    doubled.  Quoting makes reserved words (``order``, ``user``) and
    mixed-case names (Postgres lower-cases unquoted identifiers) safe."""
    return ".".join('"' + p.replace('"', '""') + '"' for p in name.split("."))


def merge_statements(
    table: str, stage: str, key_cols: list[str], columns: list[str]
) -> list[str]:
    """The upsert merge as portable SQL (Postgres and SQLite dialects both
    accept all three statements).  Unlike the reference, we also create the
    unique index ON CONFLICT depends on — ``CREATE TABLE AS SELECT ...
    WHERE 1=0`` alone yields a constraint-less table, on which every
    ON CONFLICT upsert errors (latent in the reference's
    etl_agent/tools.py:92-95, unreachable there because the Postgres path
    never runs — SURVEY §0.2).  All identifiers are quoted (quote_ident);
    the index NAME is derived with dots flattened to underscores because
    ``CREATE INDEX`` takes a bare name (the index lands in the target
    table's schema — a schema-qualified index name is a syntax error in
    Postgres)."""
    non_keys = [c for c in columns if c not in key_cols]
    qt, qs = quote_ident(table), quote_ident(stage)
    col_list = ", ".join(quote_ident(c) for c in columns)
    key_list = ", ".join(quote_ident(c) for c in key_cols)
    idx_name = quote_ident(f"{table.replace('.', '_')}_upsert_key")
    set_list = ", ".join(
        f"{quote_ident(c)} = EXCLUDED.{quote_ident(c)}" for c in non_keys
    ) or f"{quote_ident(key_cols[0])} = EXCLUDED.{quote_ident(key_cols[0])}"
    return [
        f"CREATE TABLE IF NOT EXISTS {qt} AS SELECT * FROM {qs} WHERE 1=0",
        f"CREATE UNIQUE INDEX IF NOT EXISTS {idx_name} ON {qt} ({key_list})",
        # WHERE true disambiguates ON CONFLICT after INSERT..SELECT for
        # SQLite's parser; Postgres accepts it unchanged.
        f"INSERT INTO {qt} ({col_list}) SELECT {col_list} FROM {qs} "
        f"WHERE true ON CONFLICT ({key_list}) DO UPDATE SET {set_list}",
    ]


def merge_statements_derby(
    table: str, stage: str, key_cols: list[str], columns: list[str]
) -> list[str]:
    """The upsert merge in the Apache Derby dialect (``MERGE INTO``,
    Derby >= 10.11 — 10.16 ships on Spark's classpath).  Differences from
    the Postgres/SQLite dialect that merge_statements targets:

    - no ``IF NOT EXISTS`` — the executor (``publish``) ignores the
      X0Y32 (already exists) of the two CREATEs when the table has them,
      inside the same transaction as the merge,
    - ``CREATE TABLE ... AS SELECT ... WITH NO DATA`` instead of
      ``WHERE 1=0`` (Derby's CTAS form),
    - ``MERGE INTO target USING stage ON keys WHEN [NOT] MATCHED``
      instead of ``INSERT ... ON CONFLICT DO UPDATE``.

    Identifier quoting follows what Spark's JDBC writer actually created:
    the TABLE name is left unquoted (the writer emits it verbatim, so
    Derby case-folds it to upper — quoting here would point at a
    different, lower-case table), while COLUMN names are quoted
    exact-case (the writer quotes every column via the dialect).  The
    WHEN MATCHED clause is omitted when every column is a key (nothing
    to update; Derby rejects an empty SET list).  Because the table/stage
    names are interpolated UNQUOTED, they are validated against a safe
    identifier pattern first — a hyphenated, dotted, or quoted name must
    fail loudly here, not as a Derby syntax error mid-transaction.  (A
    reserved WORD still passes the pattern; in practice it never reaches
    the merge — Spark's JDBC writer emits the same unquoted name for the
    stage write and fails there first.)"""
    import re

    for name in (table, stage):
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(
                f"Derby merge requires a plain identifier table name, "
                f"got {name!r} (quoted/schema-qualified names are not "
                f"supported on the unquoted-writer path)"
            )
    non_keys = [c for c in columns if c not in key_cols]
    col_list = ", ".join(quote_ident(c) for c in columns)
    key_list = ", ".join(quote_ident(c) for c in key_cols)
    on = " AND ".join(
        f"t.{quote_ident(k)} = s.{quote_ident(k)}" for k in key_cols
    )
    matched = (
        " WHEN MATCHED THEN UPDATE SET "
        + ", ".join(f"{quote_ident(c)} = s.{quote_ident(c)}" for c in non_keys)
        if non_keys
        else ""
    )
    insert_vals = ", ".join(f"s.{quote_ident(c)}" for c in columns)
    return [
        f"CREATE TABLE {table} AS SELECT * FROM {stage} WITH NO DATA",
        f"CREATE UNIQUE INDEX {table}_upsert_key ON {table} ({key_list})",
        f"MERGE INTO {table} t USING {stage} s ON {on}{matched} "
        f"WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({insert_vals})",
    ]


def derby_exec(spark, url: str, stmts: list[str], ignore_states: tuple = ()) -> None:
    """Run DDL/DML statements on an embedded Derby database through the
    live Spark JVM (py4j), one transaction, commit at the end.  Embedded
    Derby lives INSIDE the Spark driver JVM (a Python-side driver cannot
    reach it), so this is the only correct driver-side execution path —
    the same JVM the Spark JDBC reader/writer already booted the engine
    in.  SQLStates in ``ignore_states`` (e.g. '42Y55' table-does-not-
    exist for a best-effort DROP) are swallowed per statement."""
    jvm = spark._jvm
    try:
        jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    except Exception:
        pass  # JDBC-4 service autoloading already registered the driver
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        st = conn.createStatement()
        for s in stmts:
            try:
                st.executeUpdate(s)
            except Exception as e:
                # Own try/except: py4j JavaObject.__getattr__ fabricates a
                # member for ANY name, so a getattr default never fires —
                # a non-SQLException throwable would raise Py4JError HERE
                # and mask the original error, skipping the rollback.
                try:
                    state = e.java_exception.getSQLState()
                except Exception:
                    state = None
                if state not in ignore_states:
                    conn.rollback()
                    raise
        conn.commit()
    finally:
        conn.close()


def _derby_table_exists(spark, url: str, table: str) -> bool:
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        # Spark's writer created the table unquoted -> Derby upper-cased it
        rs = conn.getMetaData().getTables(None, None, table.upper(), None)
        return bool(rs.next())
    finally:
        conn.close()


def _execute(spark, conn_str: str, stmts: list[str], ignore_states: tuple = ()) -> None:
    """Run ``stmts`` in one transaction on the database ``conn_str``
    names (``publish`` lists the three ways); ``ignore_states`` as in
    ``derby_exec``, for Derby only."""
    if conn_str.startswith("jdbc:derby:"):
        derby_exec(spark, conn_str, stmts, ignore_states)
        return
    if conn_str.startswith("sqlite://"):
        import sqlite3

        path = conn_str[len("sqlite://") :].lstrip("/")
        con = sqlite3.connect("/" + path if conn_str.startswith("sqlite:////") else path)
        try:
            with con:
                for s in stmts:
                    con.execute(s)
        finally:
            con.close()
        return
    try:
        import sqlalchemy
    except ImportError as e:
        raise RuntimeError(
            "a JDBC load requires the 'sqlalchemy' package and a DB driver"
        ) from e
    engine = sqlalchemy.create_engine(conn_str)
    with engine.begin() as conn:
        for s in stmts:
            conn.exec_driver_sql(s)
