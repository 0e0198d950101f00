"""Plan runtime: the end-to-end pipeline lifecycle (SURVEY §3 EP1).

extract → transform → DQ gate → load → verify gate → result JSON, with the
reference's exact control flow and result shapes:

- source missing or unreadable → alert → ``{"status": "failed",
  "extract": {...}}``.
- DQ fail → alert → ``{"status": "failed", "dq": {...}}`` (no load).
- sink write fails → alert → ``{"status": "failed", "load": {...}}``.
- verify fail → alert → ``{"status": "failed", "verify": {...}}``.
- success → ``{"status": "ok", "dq", "message", "verify"}``.
  (reference: etl_agent/templates.py:123-170)

Every plan tail is one sequence: produce the DQ verdict, the load and the
verify verdict in the tail's own way, and judge them in ``_result``, the
one place a run passes or fails.  The tails differ only in where the
verdicts come from: a batch load observes its gate on its stage write
(``_load``), a quarantine plan on its split write (``_run_quarantine``),
and a stream plan drains, then scans its artifact once for both gates
(``_run_stream_plan_tail``).  Where a load's stage lives and what
publishing it means follow from ``plan.load`` alone (``_staging``,
``_publish``); ``run_from_plan`` reports the load and advances the
watermark for every passing tail.

Spark-native twists:
- the transform chain stays lazy; its first action is the stage write,
  the quarantine write, or (for a parquet upsert into an existing
  table) the scan of the batch's touched partitions.
- write–audit–publish for every batch load: the load writes a stage,
  the DQ gate and verify judge the stage, and only a passing run
  publishes it.  A file load's stage is a hidden directory beside its
  target, published through the journaled commit
  (``parquet_sink.publish``: an overwrite swaps the directory or file,
  an append moves the new part files, an upsert swaps the partitions
  its merge rewrote and moves its change batch).  A JDBC load's stage
  is the table ``{table}_stg``, published by one transaction
  (``jdbc_sink.publish``) and dropped afterwards.  A failed gate, write
  or verify leaves the target as it was (byte-identical files, the same
  rows) and the watermark where it was; a rejected run has written (and
  deleted) its stage.
- nothing is persisted but the batch of a parquet upsert into an
  existing table, which its merge reads more than once
  (``parquet_sink.stage_upsert``); every other batch load computes the
  transform once.
- alert/status hooks are injectable callables; defaults print like the
  reference (``ALERT to {channel}: {message}`` / ``STATUS[{step}]:``,
  reference: tools.py:267-277).

Spark actions per stage (a number the run already holds is passed on,
not recounted).  Every gate aggregate is an ``Observation``: on a
``noop`` scan of the columns it checks (``quality.observed_scan``, one
Spark job, no exchange) or on a write the run makes anyway.

- extract: only the reader's own (a source without a declared schema
  infers one with one job).  Parquet sources go through the session's
  read memo (``io_tables.read_parquet``), so a later run over unchanged
  files infers nothing.  A missing CSV or JSON file fails the run with
  ``file_not_found: <path>``, a parquet read that raises with
  ``read_error``; a plan error (the admission cap, a malformed source)
  still raises ``ValueError``.
- incremental: one observed ``max(ts)`` scan for the new watermark, over
  the filtered source, kept apart from the DQ gate so the watermark
  means "newest source row seen" whatever the transform filters.
- DQ gate: no job of its own: its metrics (rows, per-column nulls, max
  ts) are observed on the batch's first action — the stage write, or a
  parquet upsert's scan of its touched partitions.
- quarantine split: the split, the DQ gate and a parquet load are ONE
  job (``quality.quarantine_write``): ``out`` is written into the stage
  partitioned by a violation flag, with the gate's clean-row metrics and
  the quarantined count observed on the write.  The flag's two
  directories publish to ``quarantine_path`` and, for an unpartitioned
  parquet overwrite/append on the same filesystem, to the target; any
  other load reads the clean rows back from the stage.
- load: the stage write, whose observed row count the load message
  reports.  A parquet upsert into an existing table also scans its
  touched partitions (one observed ``noop`` scan), reads the target's
  schema and writes the merge of those partitions.  A write that raises
  — the stage write, the quarantine split, the stream drain — fails the
  run with ``write_error`` (``{"status": "failed", "load": {...}}``,
  ``_sink_write``), and so does a publish that fails before it is
  decided (a JDBC transaction, a file commit before its journal); a file
  commit that fails after its journal raises (``recover_table`` rolls it
  forward).
- verify: one re-read of the stage and one observed scan — a separate
  scan on purpose, because catching sink corruption is its job; a JDBC
  stage is checked by one query in the database (``verify_table``).  A
  parquet stage is re-read with the schema it was written with (an
  upsert's merge may widen it), so no inference job.  An append's
  verify counts the staged increment, an upsert's the partitions it
  rewrote, a JDBC load's the batch, not the whole table.  A re-read
  that raises fails the run with ``read_error``.
- stream plans: the AvailableNow drain, then ONE observed scan of the
  drained artifact, read with the stream's schema, over the union of the
  DQ and verify columns; both verdicts are derived from its metrics
  (``gate_stats``).
"""

from __future__ import annotations

import contextlib
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# dq_check and load_to_postgres are not called here, but the traced
# benchmark run wraps them at this module (perfbench/trace.py)
from agentic_etl_poc_spark.operators.quality import (  # noqa: F401
    dq_check,
    dq_verdict,
    gate_on,
    gate_stats,
    gate_ts,
    observed_scan,
    quarantine_write,
)
from agentic_etl_poc_spark.operators.transform import run_single_sql, run_steps
from agentic_etl_poc_spark.operators.verify import verify_csv, verify_table
from agentic_etl_poc_spark.plans.model import Plan
from agentic_etl_poc_spark.plans.parser import infer_kind, parse_plan
from agentic_etl_poc_spark.sinks import jdbc_sink, parquet_sink
from agentic_etl_poc_spark.sinks.csv_sink import write_csv
from agentic_etl_poc_spark.sinks.jdbc_sink import load_to_postgres  # noqa: F401
from agentic_etl_poc_spark.sources.csv_source import read_csv, read_csv_triplet
from agentic_etl_poc_spark.sources.json_source import read_json


def default_send_alert(channel: str, message: str) -> str:
    # stderr: stdout is reserved for the result JSON (CLI contract)
    print(f"ALERT to {channel}: {message}", file=__import__("sys").stderr)
    return "sent"


def default_report_status(step: str, detail: str) -> str:
    print(f"STATUS[{step}]: {detail}", file=__import__("sys").stderr)
    return "ok"


def extract(spark: SparkSession, plan: Plan) -> DataFrame | None:
    """Extract stage: load source(s) and register temp views.  Named
    multi-CSV sources register one view per name; a ``multi`` source
    registers one view per named sub-source (each loaded by its own
    kind — the heterogeneous shape the reference declares but cannot
    run, templates.py:87-95); single sources register ``input_df`` (the
    name the reference's transform SQL expects)."""
    src = plan.source
    kind = infer_kind(src)
    max_bytes = plan.max_input_bytes

    if kind == "multi":
        if not src.multi:
            raise ValueError("multi source requires source.multi{name: {...}}")
        # plan.max_input_bytes is a CUMULATIVE admission cap across the
        # whole plan: each byte-measurable sub-source (csv/json paths)
        # draws down the remaining budget, so N sub-sources cannot admit
        # N x the declared limit.  db/api/parquet sub-sources have no
        # local byte size and draw nothing (parquet's admission control
        # is partition pruning, documented in _extract_frame).
        remaining = max_bytes
        for name, sub in src.multi.items():
            sub_kind = infer_kind(sub)
            if sub_kind == "multi":
                raise ValueError(f"multi source {name!r}: nesting not allowed")
            df = _extract_frame(spark, sub, sub_kind, remaining)
            if df is None:
                raise ValueError(
                    f"multi source {name!r} must be a single-frame source "
                    f"(csv.paths / parquet.tables register their own views)"
                )
            if remaining is not None:
                remaining = max(
                    remaining - _local_source_bytes(sub, sub_kind), 0
                )
            df.createOrReplaceTempView(name)
        return None  # transform SQL names the views

    df = _extract_frame(spark, src, kind, max_bytes)
    if df is None:
        return None  # multi-table: transform SQL names the views
    df.createOrReplaceTempView("input_df")
    return df


def _local_source_bytes(src, kind: str) -> int:
    """On-disk bytes a sub-source admits (0 for sources with no local
    path — db/api/parquet) — the draw-down unit for the multi-source
    cumulative input cap."""
    path = None
    if kind == "csv" and src.csv is not None:
        path = src.csv.path
    elif kind == "json" and src.json is not None:
        path = src.json.path
    if not path or not os.path.exists(path):
        return 0
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    return os.path.getsize(path)


def _extract_frame(
    spark: SparkSession, src, kind: str, max_bytes: int | None
) -> DataFrame | None:
    """Load ONE source of the given kind; returns None for source shapes
    that register their own named views (csv triplet, parquet.tables)."""
    if kind == "csv":
        csvspec = src.csv
        if csvspec is None:
            raise ValueError("CSV source requires a source.csv section")
        if csvspec.paths:
            frames = read_csv_triplet(
                spark,
                csvspec.paths,
                max_bytes=max_bytes,
                schemas=csvspec.schemas,
            )
            for name, df in frames.items():
                df.createOrReplaceTempView(name)
            return None  # multi-table: transform SQL names the views
        if csvspec.path:
            df = read_csv(
                spark, csvspec.path, max_bytes=max_bytes, schema=csvspec.schema
            )
        else:
            raise ValueError(
                "CSV source requires either csv.path or csv.paths{...}"
            )
    elif kind == "json":
        df = read_json(
            spark,
            src.json.path,
            src.json.json_path,
            max_bytes=max_bytes,
            mode=src.json.mode,
        )
    elif kind == "db":
        from agentic_etl_poc_spark.sources.jdbc_source import fetch_db

        df = fetch_db(spark, src.db.conn_str, src.db.query)
    elif kind == "api":
        from agentic_etl_poc_spark.sources.api_source import fetch_api

        df = fetch_api(spark, src.api.url, src.api.params, src.api.json_path)
    elif kind == "parquet":
        # engine-native scale source: no size cap (admission control for
        # parquet happens via partition pruning, not a byte wall).  Reads
        # go through the session's read memo (io_tables): an unchanged
        # source is not re-listed nor its schema re-inferred on the next
        # run of a plan.
        from agentic_etl_poc_spark.io_tables import read_parquet as _memo

        pq = src.parquet

        def read_nanos(p: str):
            from pyspark.sql import functions as _F

            # TIMESTAMP(NANOS) columns → truncate to µs TimestampType.
            # Depending on the Spark version the nanos column arrives either
            # as int64 (legacy nanosAsLong, Spark <4.1) or already as
            # TIMESTAMP_NTZ (Spark 4.1+ reads nanos natively, µs-truncated)
            # — branch on the dtype actually read, don't assume the conf
            # took effect.
            from pyspark.sql.types import LongType, TimestampNTZType

            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            out = spark.read.parquet(p)
            dtypes = {f.name: f.dataType for f in out.schema.fields}
            for c in pq.nanos_ts_cols:
                if c not in dtypes:
                    continue
                if isinstance(dtypes[c], LongType):
                    # raw nanos: integer div keeps exactness past 2^53 ns
                    out = out.withColumn(
                        c, _F.timestamp_micros(_F.expr(f"{c} div 1000"))
                    )
                elif isinstance(dtypes[c], TimestampNTZType):
                    out = out.withColumn(c, _F.col(c).cast("timestamp"))
                # already TimestampType: nothing to do
            return out

        def read_parquet(p: str):
            if not pq.nanos_ts_cols:
                return _memo(spark, p)
            return _memo(
                spark, p, read_nanos, ("plan:nanos_ts", *pq.nanos_ts_cols)
            )

        if pq.tables:
            for name, p in pq.tables.items():
                read_parquet(p).createOrReplaceTempView(name)
            return None
        df = read_parquet(pq.path)
    elif kind == "stream":
        st = src.stream
        if st is None or not st.path:
            raise ValueError("stream source requires source.stream.path")
        if not st.schema:
            raise ValueError(
                "stream source requires source.stream.schema (a DDL "
                "string — file streams cannot infer)"
            )
        # No byte cap: a stream is admission-controlled by the trigger
        # (each AvailableNow drain consumes only files present at start;
        # maxFilesPerTrigger bounds a batch) — a one-shot byte wall has
        # no meaning for an unbounded source.
        df = (
            spark.readStream.format(st.format)
            .schema(st.schema)
            .load(st.path)
        )
        if st.watermark_col:
            df = df.withWatermark(st.watermark_col, st.watermark_delay)
    else:
        raise ValueError(f"unknown source kind: {kind!r}")

    return df


def _failed(
    plan: Plan, send_alert: Callable[[str, str], str], gate: str, verdict: dict
) -> dict:
    """A failed stage (``extract``, ``dq``, ``load`` or ``verify``): alert
    the plan's ``on_fail`` channel (if any) and return ``{"status":
    "failed", gate: verdict}``."""
    if plan.alerts:
        label = {"extract": "Extract", "dq": "DQ", "load": "Load", "verify": "Verify"}[gate]
        send_alert(
            plan.alerts.get("on_fail", ""),
            f"{label} failed: {json.dumps(verdict)}",
        )
    return {"status": "failed", gate: verdict}


def _result(
    plan: Plan,
    send_alert: Callable[[str, str], str],
    dq: dict | None,
    load: str | dict | Callable[[], str | dict],
    verify: Callable[[], dict],
) -> dict:
    """The run's result, judged in lifecycle order: the DQ verdict ``dq``,
    then ``load`` (the load message, or a write's ``write_error``
    verdict; a callable runs the load, only once the gate passed), then
    ``verify()``, called only when both passed.  The first failure
    alerts once and ends the run (``_failed``); else ``{"status": "ok",
    "dq", "message", "verify"}``.  ``dq`` is None when there is no
    verdict: the write or re-read it is observed on raised."""
    if dq is not None and not dq["status"]:
        return _failed(plan, send_alert, "dq", dq)
    if callable(load):
        load = load()
    if isinstance(load, dict):
        return _failed(plan, send_alert, "load", load)
    ver = verify()
    if not ver.get("status", False):
        return _failed(plan, send_alert, "verify", ver)
    return {"status": "ok", "dq": dq, "message": load, "verify": ver}


def _gate(cks) -> dict:
    """The DQ gate's arguments, as ``dq_check`` and ``dq_verdict`` take
    them."""
    return dict(
        min_rows=cks.min_rows,
        nonnull_cols=cks.nonnull_cols,
        freshness_minutes=cks.freshness_minutes,
        timestamp_col=cks.timestamp_col,
    )


def _gate_ts(cks) -> str:
    """The column whose max the DQ gate observes (``gate_ts``)."""
    return gate_ts(cks.freshness_minutes, cks.timestamp_col)


def _verify_limits(plan: Plan) -> tuple[int, list[str] | None]:
    """Verify's ``min_rows`` and ``nonnull_cols``: each one the plan's
    ``verify`` leaves unset is the DQ check's."""
    vf, cks = plan.verify, plan.checks
    return (
        vf.min_rows if vf.min_rows is not None else cks.min_rows,
        vf.nonnull_cols if vf.nonnull_cols is not None else cks.nonnull_cols,
    )


def _verify(spark: SparkSession, plan: Plan, data: str, schema) -> dict:
    """The verify verdict over the load's staged ``data`` (``_staging``:
    a file or table in a file load's stage, a JDBC load's stage
    table)."""
    vf, ld = plan.verify, plan.load
    min_rows, nonnull = _verify_limits(plan)
    if ld.to == "parquet":
        return parquet_sink.verify_parquet(
            spark, data, min_rows=min_rows, nonnull_cols=nonnull, schema=schema
        )
    if ld.to == "csv":
        return verify_csv(
            spark, data, min_rows=min_rows, nonnull_cols=nonnull,
            timestamp_col=vf.ts_col, max_lag_minutes=vf.max_lag_minutes,
            include_header=ld.include_header,
        )
    return verify_table(
        spark, ld.conn_str, data, min_rows=min_rows, nonnull_cols=nonnull,
        ts_col=vf.ts_col, max_lag_minutes=vf.max_lag_minutes,
    )


def _sink_write(write: Callable, *args):
    """``write(*args)``, or the ``write_error`` verdict of a Spark error it
    raised: the one ``try`` around every write a run makes (the stage
    write, the quarantine split, the stream drain)."""
    try:
        return write(*args)
    except parquet_sink.READ_ERRORS as e:
        return parquet_sink.error_verdict(e, "write_error")


def _write(plan: Plan, df: DataFrame, data: str, rows, schema: list) -> str:
    """Write ``df`` to the load's staged ``data`` through the plan's sink
    and return the load message, which names the target.  ``rows`` is the
    count it reports, read after the write; ``schema[0]`` is set to the
    schema the stage holds when that is not ``df``'s (an upsert's merge
    can widen the table)."""
    from agentic_etl_poc_spark import plan_capture

    ld = plan.load
    plan_capture.note("sink_input", df)
    if ld.to == "csv":
        return write_csv(
            df, data, include_header=ld.include_header,
            row_count=rows, target=ld.file_path,
        )
    if ld.to != "parquet":
        return jdbc_sink.write_stage(
            df, ld.conn_str, data, ld.table, ld.mode, ld.key_cols, rows
        )
    if ld.mode != "upsert":
        # every other file mode writes its stage, a new directory, whole
        return parquet_sink.write_parquet(
            df, data, partition_by=ld.partition_by, row_count=rows,
            target=ld.file_path,
        )
    msg, schema[0] = parquet_sink.stage_upsert(
        df, data, ld.file_path, ld.key_cols, ld.partition_by,
        ld.change_feed, rows,
    )
    return msg


@contextlib.contextmanager
def _staging(spark: SparkSession, ld):
    """The load's ``(stage, data)``: a file load's stage is a hidden
    directory beside its target, which its data goes into under the
    target's name; a JDBC load's is the table ``{table}_stg``, both at
    once."""
    if ld.to not in ("csv", "parquet"):
        with jdbc_sink.staging(spark, ld.conn_str, ld.table) as stage:
            yield stage, stage
        return
    with parquet_sink.staging(ld.file_path) as stage:
        yield stage, os.path.join(stage, os.path.basename(os.path.abspath(ld.file_path)))


def _run_batch_tail(
    spark: SparkSession,
    plan: Plan,
    out: DataFrame,
    send_alert: Callable[[str, str], str],
) -> dict:
    """DQ gate → load → verify → publish for a batch plan: a quarantine
    plan's gate rides its split write (``_run_quarantine``); any other
    plan's is the load's (``_load``)."""
    cks, ld = plan.checks, plan.load
    if ld.to in ("csv", "parquet") and not ld.file_path:
        raise ValueError(f"{ld.to} load requires load.file_path")
    if ld.to == "parquet" and ld.mode not in ("overwrite", "replace", "append", "upsert"):
        raise ValueError(f"unknown parquet load mode: {ld.mode!r}")
    if cks.quarantine_path and cks.nonnull_cols:
        return _run_quarantine(spark, plan, out, send_alert)
    return _load(spark, plan, out, None, send_alert)


def _run_quarantine(
    spark: SparkSession,
    plan: Plan,
    out: DataFrame,
    send_alert: Callable[[str, str], str],
) -> dict:
    """A quarantine plan: ``out`` is written once into a stage, split by
    its violation flag (``quality.quarantine_write``), with the DQ gate's
    clean-row metrics observed on that write.  The violating rows are
    published to ``quarantine_path`` whatever the gate and verify decide.

    For an unpartitioned parquet overwrite/append on the filesystem that
    holds ``quarantine_path``, the stage sits beside the target and the
    clean side, once verified, is published as written: split, gate and
    load are one job.  Any other load gets its clean rows read back from
    the stage, which then sits beside ``quarantine_path`` (``_load``)."""
    cks, ld = plan.checks, plan.load
    qpath = cks.quarantine_path
    as_written = (
        ld.to == "parquet"
        and ld.mode != "upsert"
        and not ld.partition_by
        and parquet_sink.same_device(ld.file_path, qpath)
    )
    with parquet_sink.staging(ld.file_path if as_written else qpath) as stage:
        if as_written:
            parquet_sink.recover_table(qpath)
        split = _sink_write(
            quarantine_write,
            out, cks.nonnull_cols, os.path.join(stage, "split"), _gate_ts(cks),
        )
        if isinstance(split, dict):
            return _failed(plan, send_alert, "load", split)
        clean, bad, stats = split
        dq = dq_verdict(stats, **_gate(cks))
        dq["quarantined"] = stats["quarantined"]
        if as_written:
            res = _result(
                plan, send_alert, dq, parquet_sink.wrote(dq["rows"], ld.file_path),
                lambda: _verify(spark, plan, clean, out.schema),
            )
        else:
            clean_df = spark.read.schema(out.schema).parquet(clean)
            res = _load(spark, plan, clean_df, dq, send_alert)
        return _publish(
            plan, send_alert, stage, res, clean if as_written else None,
            [(bad, qpath)],
        )


def _load(
    spark: SparkSession,
    plan: Plan,
    out: DataFrame,
    dq: dict | None,
    send_alert: Callable[[str, str], str],
) -> dict:
    """Load and verify ``out``, and judge the run (``_result``): every
    load writes a stage (``_staging``), with the gate's metrics observed
    on that write when ``dq`` is None; verify reads the stage and only a
    passing run publishes it (``_publish``).  ``dq`` is the gate's
    verdict when it already ran (a quarantine split's): the write then
    waits for it."""
    cks = plan.checks
    with _staging(spark, plan.load) as (stage, data):
        observed, stats = gate_on(out, cks.nonnull_cols, _gate_ts(cks))
        schema = [out.schema]

        def write() -> str | dict:
            return _sink_write(_write, plan, observed, data, lambda: stats()["rows"], schema)

        load = write
        if dq is None:  # the gate is the one observed on the stage write
            load = write()
            if isinstance(load, str):
                dq = dq_verdict(stats(), **_gate(cks))
        res = _result(
            plan, send_alert, dq, load,
            lambda: _verify(spark, plan, data, schema[0]),
        )
        return _publish(plan, send_alert, stage, res, data, out=out)


def _publish(
    plan: Plan,
    send_alert: Callable[[str, str], str],
    stage: str,
    res: dict,
    data: str | None,
    swaps: list[tuple[str, str]] = (),
    out: DataFrame | None = None,
) -> dict:
    """Publish from ``stage`` and return the run's result.  ``swaps`` (a
    quarantine split's violating rows) publish whatever ``res`` says; the
    staged load ``data`` only when the run passed, to the plan's target:
    a file load by the renames its mode takes (``parquet_sink.renames``),
    a JDBC load by one transaction (``jdbc_sink.publish``, with the
    session and columns of ``out``, the frame it loaded).

    A publish that fails before it is decided (a JDBC transaction that
    rolled back, a file commit before its journal) published nothing,
    and fails a passing run's load with ``write_error``.  From the
    journal on, a file commit is decided: the error propagates, and the
    next ``recover_table`` of the target rolls the commit forward."""
    ld = plan.load
    swaps, appends = list(swaps), []
    try:
        if data and res["status"] == "ok" and ld.to not in ("csv", "parquet"):
            jdbc_sink.publish(
                out.sparkSession, ld.conn_str, ld.table, data, ld.mode,
                ld.key_cols, out.columns,
            )
        elif data and res["status"] == "ok":
            mode = ld.mode if ld.to == "parquet" else "overwrite"
            s, a = parquet_sink.renames(mode, data, ld.file_path)
            swaps, appends = swaps + s, a
        if swaps or appends:
            parquet_sink.publish(stage, swaps, appends)
    except (OSError, *parquet_sink.READ_ERRORS) as e:
        if res["status"] != "ok" or parquet_sink.journaled(stage):
            raise
        verdict = parquet_sink.error_verdict(e, "write_error")
        return _failed(plan, send_alert, "load", verdict)
    return res


def run_from_plan(
    spark: SparkSession,
    plan_or_text: Plan | str,
    send_alert: Callable[[str, str], str] = default_send_alert,
    report_status: Callable[[str, str], str] = default_report_status,
) -> dict:
    from agentic_etl_poc_spark.session import ensure_semantics

    ensure_semantics(spark)
    plan = (
        plan_or_text if isinstance(plan_or_text, Plan) else parse_plan(plan_or_text)
    )

    # 1) extract; a source that is missing or unreadable fails the run
    try:
        src_df = extract(spark, plan)
    except FileNotFoundError as e:
        verdict = {"status": False, "error": f"file_not_found: {e.filename or e}"}
        return _failed(plan, send_alert, "extract", verdict)
    except parquet_sink.READ_ERRORS as e:
        return _failed(plan, send_alert, "extract", parquet_sink.error_verdict(e))

    # 1b) incremental watermark filter (engine extension, plans/model.py)
    inc = plan.incremental
    new_watermark = None
    if inc and inc.ts_col:
        if src_df is None:
            raise ValueError(
                "incremental mode requires a single-source plan (input_df)"
            )
        if src_df.isStreaming:
            raise ValueError(
                "incremental watermark mode is a batch-plan feature; a "
                "stream source already has exactly-once increment "
                "bookkeeping in its checkpoint"
            )
        from agentic_etl_poc_spark.memory import RunLedger

        ledger = RunLedger(inc.ledger)
        wm = ledger.get_state(f"watermark:{inc.key}")
        if wm is not None:
            src_df = src_df.filter(
                F.col(inc.ts_col) > F.lit(wm).cast("timestamp")
            )
            src_df.createOrReplaceTempView("input_df")
        # High-watermark of THIS increment: a max observed on one scan of
        # the filtered source (one column, predicate at the reader).
        # Formatted to a string IN-ENGINE: a timestamp metric would come
        # back as a naive datetime in the DRIVER's local timezone while
        # the read-back cast above parses under the SESSION timezone
        # (UTC) — on a non-UTC driver the watermark would shift by the
        # UTC offset and silently skip or reprocess rows.
        new_watermark = observed_scan(
            src_df,
            [inc.ts_col],
            [
                F.date_format(
                    F.max(inc.ts_col), "yyyy-MM-dd HH:mm:ss.SSSSSS"
                ).alias("m")
            ],
            "incremental_max",
        )["m"]

    # 2) transform (lazy)
    if plan.transform.steps:
        out = run_steps(spark, plan.transform.steps)
    elif plan.transform.sql:
        out = run_single_sql(spark, plan.transform.sql)
    else:
        raise ValueError(
            "Provide transform.steps[...].sql (preferred) or transform.sql."
        )

    # 3-5) DQ gate, load, verify, publish.  Streaming plans invert the
    # gate order (see StreamSource's docstring): drain first, then gate
    # the artifact.
    if out.isStreaming:
        res = _run_stream_plan_tail(spark, plan, out, send_alert)
    else:
        res = _run_batch_tail(spark, plan, out, send_alert)
    if res["status"] != "ok":
        return res
    report_status("load", res["message"])

    # Advance the incremental watermark ONLY after a verified, published
    # load — a failed run leaves it untouched, so the next tick
    # reprocesses.
    if new_watermark is not None:
        ledger.set_state(f"watermark:{inc.key}", new_watermark)
    return res


def _run_stream_plan_tail(
    spark: SparkSession,
    plan: Plan,
    out: DataFrame,
    send_alert: Callable[[str, str], str],
) -> dict:
    """Streaming tail of ``run_from_plan``: drain the transformed stream
    with Trigger.AvailableNow into the parquet sink (exactly-once via the
    checkpoint), then run the DQ and verify gates over the MATERIALIZED
    artifact — the documented gate-after-materialize inversion of the
    batch lifecycle (a stream cannot be counted before writing).  A
    failed gate still alerts and returns ``failed``; the checkpoint
    guarantees the bad increment is never silently re-consumed."""
    cks = plan.checks
    if cks.quarantine_path:
        raise ValueError(
            "checks.quarantine_path is a batch-plan feature (the split "
            "is one staged batch write of the whole transform) — "
            "quarantine streaming rows with a foreachBatch sink instead"
        )
    ld = plan.load
    if ld.to != "parquet" or not ld.file_path:
        raise ValueError(
            "stream plans require load.to: parquet with load.file_path "
            "(JDBC/CSV single-file sinks have no streaming commit protocol)"
        )
    if ld.partition_by:
        raise ValueError(
            "stream plans do not support load.partition_by yet — "
            "repartition in the transform or use a batch compaction pass"
        )
    st = plan.source.stream
    checkpoint = (st.checkpoint if st else None) or (
        ld.file_path.rstrip("/") + "_checkpoint"
    )
    from agentic_etl_poc_spark.streaming.events import run_available_now

    drained = _sink_write(run_available_now, out, checkpoint, ld.file_path)
    if isinstance(drained, dict):
        return _failed(plan, send_alert, "load", drained)

    # Both gates read the same drained artifact and nothing is written
    # between them, so ONE scan aggregates the union of their columns and
    # each verdict is derived from that row.  The scan declares the
    # stream's schema, so there is nothing to infer.
    min_rows, ver_cols = _verify_limits(plan)
    try:
        stats = gate_stats(
            spark.read.schema(out.schema).parquet(ld.file_path),
            [*(cks.nonnull_cols or []), *(ver_cols or [])],
            _gate_ts(cks),
        )
    except parquet_sink.READ_ERRORS as e:
        return _failed(plan, send_alert, "verify", parquet_sink.error_verdict(e))
    dq = dq_verdict(stats, **_gate(cks))
    msg = (
        f"stream drained to {ld.file_path} "
        f"(checkpoint {checkpoint}); rows={dq['rows']}"
    )
    return _result(
        plan, send_alert, dq, msg,
        lambda: parquet_sink.parquet_verdict(stats, min_rows, ver_cols),
    )


def run_prompt(spark: SparkSession, text: str, llm=None) -> dict:
    """Prompt entry (reference: etl_agent/runtime.py:15-27): YAML-looking
    text (or ETL_AGENT_OFFLINE=1) runs directly; anything else goes
    through the NL planner (plans/planner.py) — deterministic offline
    grammar by default, or an injected ``llm(system, user) -> str``
    callable — and the resulting YAML runs through the same plan path."""
    from agentic_etl_poc_spark.plans.parser import looks_like_plan
    from agentic_etl_poc_spark.plans.planner import plan_from_prompt

    if not looks_like_plan(text):
        text = plan_from_prompt(text, llm=llm)
    return run_from_plan(spark, text)
