"""Plan runtime: the end-to-end pipeline lifecycle (SURVEY §3 EP1).

extract → transform → DQ gate → load → verify gate → result JSON, with the
reference's exact control flow and result shapes:

- DQ fail → alert → ``{"status": "failed", "dq": {...}}`` (no load).
- sink write fails → alert → ``{"status": "failed", "load": {...}}``.
- verify fail → alert → ``{"status": "failed", "verify": {...}}``.
- success → ``{"status": "ok", "dq", "message", "verify"}``.
  (reference: etl_agent/templates.py:123-170)

Spark-native twists:
- the transform chain stays lazy; its FIRST action is the DQ gate (the
  quarantine write, when the plan splits one off).
- the output frame is persisted (memory-and-disk) across the DQ action and
  the sink write, so the pipeline computes the transform once, not twice.
- alert/status hooks are injectable callables; defaults print like the
  reference (``ALERT to {channel}: {message}`` / ``STATUS[{step}]:``,
  reference: tools.py:267-277).

Spark actions per stage (each stage runs one; a number the run already
holds is passed on, not recounted).  Every gate aggregate is observed on
a ``noop`` scan of the columns it checks (``quality.observed_scan``): one
Spark job, no exchange.

- extract: only the reader's own (a source without a declared schema
  infers one with one job).  Parquet sources go through the session's
  read memo (``io_tables.read_parquet``), so a later run over unchanged
  files infers nothing.
- incremental: one observed ``max(ts)`` scan for the new watermark, over
  the filtered source, kept apart from the DQ gate so the watermark
  means "newest source row seen" whatever the transform filters.
- DQ gate: one observed scan (rows, per-column nulls, max ts).  It is
  the first action, and the same job fills the cache the sink then reads.
- quarantine split: the split and the DQ gate are ONE job, the write of
  the violating rows (``quality.quarantine_split``).  The gate's metrics,
  restricted to the clean rows, plus the quarantined count are observed
  on the persisted frame below the write's filter, so the gate runs no
  scan of its own; the write is the first action and fills the cache.
- load: the sink write; every sink takes the DQ row count as
  ``row_count`` instead of counting again.  A parquet upsert also
  collects its touched partition values.  A write that raises fails the
  run with ``write_error`` (``{"status": "failed", "load": {...}}``).
- verify: one re-read of the written artifact and one observed scan — a
  separate scan on purpose, because catching sink corruption is its job.
  A parquet overwrite or append is re-read with the schema it was
  written with, so no inference job; an upsert's re-read infers, because
  its merge can widen the table.  A re-read that raises fails the run
  with ``read_error``.
- stream plans: the AvailableNow drain, then ONE observed scan of the
  drained artifact, read with the stream's schema, over the union of the
  DQ and verify columns; both verdicts are derived from its metrics
  (``gate_stats``).
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from agentic_etl_poc_spark.operators.quality import (
    dq_check,
    dq_verdict,
    gate_stats,
    observed_scan,
    quarantine_split,
)
from agentic_etl_poc_spark.operators.transform import run_single_sql, run_steps
from agentic_etl_poc_spark.operators.verify import verify_csv, verify_table
from agentic_etl_poc_spark.plans.model import Plan
from agentic_etl_poc_spark.plans.parser import infer_kind, parse_plan
from agentic_etl_poc_spark.sinks.csv_sink import write_csv
from agentic_etl_poc_spark.sinks.jdbc_sink import load_to_postgres
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
    import os

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
    """A failed stage (``dq``, ``load`` or ``verify``): alert the plan's
    ``on_fail`` channel (if any) and return ``{"status": "failed", gate:
    verdict}``."""
    if plan.alerts:
        label = {"dq": "DQ", "load": "Load", "verify": "Verify"}[gate]
        send_alert(
            plan.alerts.get("on_fail", ""),
            f"{label} failed: {json.dumps(verdict)}",
        )
    return {"status": "failed", gate: verdict}


def _load(out: DataFrame, ld, row_count: int) -> str:
    """Write ``out`` to the plan's sink; every sink takes the DQ row
    count instead of counting again.  Returns the sink's message."""
    if ld.to == "csv":
        if not ld.file_path:
            raise ValueError("csv load requires load.file_path")
        return write_csv(
            out, ld.file_path, include_header=ld.include_header,
            row_count=row_count,
        )
    if ld.to == "parquet":
        from agentic_etl_poc_spark.sinks.parquet_sink import write_parquet

        if not ld.file_path:
            raise ValueError("parquet load requires load.file_path")
        return write_parquet(
            out,
            ld.file_path,
            mode=ld.mode,
            partition_by=ld.partition_by,
            key_cols=ld.key_cols,
            change_feed=ld.change_feed,
            row_count=row_count,
        )
    return load_to_postgres(
        out, ld.conn_str, ld.table, mode=ld.mode,
        key_cols=ld.key_cols, row_count=row_count,
    )


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

    # 1) extract
    src_df = extract(spark, plan)

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
        from pyspark.sql import functions as _F

        from agentic_etl_poc_spark.memory import RunLedger

        ledger = RunLedger(inc.ledger)
        wm = ledger.get_state(f"watermark:{inc.key}")
        if wm is not None:
            src_df = src_df.filter(
                _F.col(inc.ts_col) > _F.lit(wm).cast("timestamp")
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
                _F.date_format(
                    _F.max(inc.ts_col), "yyyy-MM-dd HH:mm:ss.SSSSSS"
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

    if out.isStreaming:
        # Streaming plans invert the gate order (see StreamSource's
        # docstring): materialize the drain first, then gate the artifact.
        return _run_stream_plan_tail(spark, plan, out, send_alert, report_status)

    # Persist across the DQ action and the sink write — one compute, two
    # uses.  Keep the persisted handle: the quarantine split below rebinds
    # ``out`` to a filtered child, and unpersisting the child would leak
    # the parent's storage.
    out = persisted = out.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cks = plan.checks
        # 3) DQ gate, the first action.  With a quarantine split (engine
        # extension, plans/model.py) rows violating the nonnull checks are
        # ROUTED to a parquet quarantine sink instead of failing the plan,
        # and the gate judges only the clean rows (min_rows applies to
        # what reaches the sink; an unset path keeps the reference's
        # alert-and-abort gate).  The gate's numbers then ride the
        # quarantine write instead of a scan of their own.
        gate = dict(
            min_rows=cks.min_rows,
            nonnull_cols=cks.nonnull_cols,
            freshness_minutes=cks.freshness_minutes,
            timestamp_col=cks.timestamp_col,
        )
        if cks.quarantine_path and cks.nonnull_cols:
            out, stats = quarantine_split(
                out,
                cks.nonnull_cols,
                lambda bad: bad.write.mode("overwrite").parquet(
                    cks.quarantine_path
                ),
                cks.timestamp_col if cks.freshness_minutes else "",
            )
            dq = dq_verdict(stats, **gate)
            dq["quarantined"] = stats["quarantined"]
        else:
            dq = dq_check(out, **gate)
        if not dq["status"]:
            return _failed(plan, send_alert, "dq", dq)

        # 4) load: a sink write that raises fails the run; nothing is
        # verified and the watermark stays where it was
        from agentic_etl_poc_spark import plan_capture
        from agentic_etl_poc_spark.sinks.parquet_sink import (
            READ_ERRORS,
            error_verdict,
        )

        plan_capture.note("sink_input", out)
        ld = plan.load
        try:
            msg = _load(out, ld, dq["rows"])
        except READ_ERRORS as e:
            return _failed(
                plan, send_alert, "load", error_verdict(e, "write_error")
            )
    finally:
        persisted.unpersist()

    # 5) verify gate (re-reads the artifact)
    vf = plan.verify
    if ld.to == "parquet":
        from agentic_etl_poc_spark.sinks.parquet_sink import verify_parquet

        ver = verify_parquet(
            spark,
            ld.file_path,
            min_rows=vf.min_rows if vf.min_rows is not None else plan.checks.min_rows,
            nonnull_cols=(
                vf.nonnull_cols
                if vf.nonnull_cols is not None
                else plan.checks.nonnull_cols
            ),
            # an upsert's merge can evolve the table wider than the batch
            schema=None if ld.mode == "upsert" else out.schema,
        )
    elif ld.to == "csv":
        ver = verify_csv(
            spark,
            ld.file_path,
            min_rows=vf.min_rows if vf.min_rows is not None else plan.checks.min_rows,
            nonnull_cols=(
                vf.nonnull_cols
                if vf.nonnull_cols is not None
                else plan.checks.nonnull_cols
            ),
            timestamp_col=vf.ts_col,
            max_lag_minutes=vf.max_lag_minutes,
            include_header=ld.include_header,
        )
    else:
        ver = verify_table(
            spark, ld.conn_str, ld.table,
            ts_col=vf.ts_col, max_lag_minutes=vf.max_lag_minutes,
        )
    if not ver.get("status", False):
        return _failed(plan, send_alert, "verify", ver)

    report_status("load", msg)

    # Advance the incremental watermark ONLY after a verified load —
    # a failed run leaves it untouched, so the next tick reprocesses.
    if inc and inc.ts_col and new_watermark is not None:
        from agentic_etl_poc_spark.memory import RunLedger

        RunLedger(inc.ledger).set_state(f"watermark:{inc.key}", new_watermark)

    return {"status": "ok", "dq": dq, "message": msg, "verify": ver}


def _run_stream_plan_tail(
    spark: SparkSession,
    plan: Plan,
    out: DataFrame,
    send_alert: Callable[[str, str], str],
    report_status: Callable[[str, str], str],
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
            "re-reads one persisted transform; a stream cannot persist) — "
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

    run_available_now(out, checkpoint, ld.file_path)

    # Both gates read the same drained artifact and nothing is written
    # between them, so ONE scan aggregates the union of their columns and
    # each verdict is derived from that row.  The scan declares the
    # stream's schema, so there is nothing to infer.
    from agentic_etl_poc_spark.sinks.parquet_sink import (
        READ_ERRORS,
        error_verdict,
        parquet_verdict,
    )

    vf = plan.verify
    ver_cols = vf.nonnull_cols if vf.nonnull_cols is not None else cks.nonnull_cols
    try:
        stats = gate_stats(
            spark.read.schema(out.schema).parquet(ld.file_path),
            [*(cks.nonnull_cols or []), *(ver_cols or [])],
            cks.timestamp_col if cks.freshness_minutes else "",
        )
    except READ_ERRORS as e:
        return _failed(plan, send_alert, "verify", error_verdict(e))
    dq = dq_verdict(
        stats,
        min_rows=cks.min_rows,
        nonnull_cols=cks.nonnull_cols,
        freshness_minutes=cks.freshness_minutes,
        timestamp_col=cks.timestamp_col,
    )
    if not dq["status"]:
        return _failed(plan, send_alert, "dq", dq)

    ver = parquet_verdict(
        stats,
        min_rows=vf.min_rows if vf.min_rows is not None else cks.min_rows,
        nonnull_cols=ver_cols,
    )
    if not ver.get("status", False):
        return _failed(plan, send_alert, "verify", ver)

    msg = (
        f"stream drained to {ld.file_path} "
        f"(checkpoint {checkpoint}); rows={dq['rows']}"
    )
    report_status("load", msg)
    return {"status": "ok", "dq": dq, "message": msg, "verify": ver}


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
