"""Structured Streaming operators over the events stream.

The reference's only notion of "streaming" is cron-rescheduled batch
(reference: etl_agent/operator.py:15-16) plus freshness-lag checks.  A
Spark engine subsumes that properly:

- ``stream_events``: file/json stream source with explicit schema (stream
  sources cannot infer) and an event-time watermark for late-data bounds.
- ``windowed_counts``: tumbling event-time window aggregation — the
  streaming twin of queries/temporal.py::q20 (same expression, same
  semantics, batch and stream).
- ``sessionize``: custom stateful operator via applyInPandasWithState —
  per-user session windows with an inactivity gap, the canonical
  "operator Spark lacks built-in" example (session_window exists for
  aggregation; this variant emits one row per CLOSED session with
  arbitrary Python session state, which needs the state API).
- ``run_available_now``: Trigger.AvailableNow batch-drain — the idiomatic
  replacement for the reference's hourly-cron re-run pattern: each tick
  processes exactly the new files, with checkpointed exactly-once state.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start", TimestampType()),
        StructField("last", TimestampType()),
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ]
)


def stream_events(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """NDJSON file-stream of events with an event-time watermark.

    ``max_files_per_trigger`` splits an AvailableNow drain into one
    micro-batch per file (mtime order) — the knob that makes multi-batch
    watermark semantics (late-row suppression) testable and
    deterministic."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(source_dir).withWatermark("ts", watermark)


def windowed_counts(events: DataFrame, window: str = "6 hours") -> DataFrame:
    """Tumbling event-time aggregation; works identically on batch frames
    (no watermark needed) and streams (late rows beyond the watermark are
    dropped, state for closed windows is evicted)."""
    return events.groupBy(
        F.window("ts", window).alias("w"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
    )


def _fold_sessions(
    rows: pd.DataFrame,
    carried: tuple | None,
    gap_seconds: int,
    user_id,
) -> tuple[list[list], tuple]:
    """Gaps-and-islands fold shared by BOTH stateful APIs (``sessionize``
    on applyInPandasWithState and ``sessionize_tws`` on
    transformWithStateInPandas): merge one micro-batch of a single user's
    events into the carried open-session state, returning
    ``(closed_session_rows, new_open_state)``.

    Vectorized over the batch (the per-row Python loop was the drain's
    hot path).  Flat numpy — not pandas groupby — because groups are
    often tiny (one user's events per micro-batch) and per-call pandas
    overhead would dominate: sort via argsort on the raw arrays (a
    DataFrame sort allocates a whole frame per group), island boundaries
    from diff > gap, per-island sums via add.reduceat, boundary
    timestamps materialized only at island edges."""
    import numpy as np

    if carried is not None:
        start, last, n, total = carried
    else:
        start = last = None
        n, total = 0, 0.0
    closed: list[list] = []
    gap = _dt.timedelta(seconds=gap_seconds)

    ts_np = rows["ts"].to_numpy()
    vals = rows["value"].to_numpy(dtype=float)
    order = np.argsort(ts_np, kind="stable")
    ts_np = ts_np[order]
    vals = vals[order]
    m = len(ts_np)
    brk_after = np.flatnonzero(
        np.diff(ts_np) > np.timedelta64(gap_seconds, "s")
    )
    starts_idx = np.concatenate(([0], brk_after + 1))
    ends_idx = np.concatenate((brk_after, [m - 1]))
    i_n = ends_idx - starts_idx + 1
    i_total = np.add.reduceat(vals, starts_idx)
    k = len(starts_idx)
    first_ts = pd.Timestamp(ts_np[0]).to_pydatetime()
    if last is not None and first_ts - last > gap:
        # carried-over session cannot extend: close it as-is
        closed.append([user_id, start, last, n, total])
        start = last = None
        n, total = 0, 0.0
    for j in range(k):
        if start is None:
            start = pd.Timestamp(ts_np[starts_idx[j]]).to_pydatetime()
        last = pd.Timestamp(ts_np[ends_idx[j]]).to_pydatetime()
        n += int(i_n[j])
        total += float(i_total[j])
        if j < k - 1:  # islands before the final one are closed
            closed.append([user_id, start, last, n, total])
            start = last = None
            n, total = 0, 0.0
    return closed, (start, last, n, total)


#: Default inactivity gap shared by sessionize, sessionize_tws, AND the
#: noop harness floor: the floor's contract is to register the SAME
#: event-time timeout shape _sessionize_fn does, so the gap must come
#: from one place — a tuned sessionize default with a floor still at a
#: stale literal would silently skew the recorded v02 criterion.
SESSION_GAP_SECONDS = 1800


def _sessionize_fn(gap_seconds: int):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # Watermark passed last+gap: the open session can never extend
            # (later data would be beyond-watermark late) — close it.
            if state.exists:
                start, last, n, total = state.get
                state.remove()
                yield pd.DataFrame(
                    [[user_id, start, last, n, total]],
                    columns=[f.name for f in SESSION_SCHEMA.fields],
                )
            return

        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        carried = state.get if state.exists else None
        closed, new_state = _fold_sessions(
            rows, carried, gap_seconds, user_id
        )
        start, last, n, total = new_state
        state.update((start, last, n, total))
        # Event-time timeout (NOT processing-time): fires when the watermark
        # crosses last+gap; a drain trigger (AvailableNow) can therefore
        # terminate with still-open sessions held in the state store.
        timeout_ms = int(last.timestamp() * 1000) + gap_seconds * 1000
        state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        if closed:
            yield pd.DataFrame(
                closed, columns=[f.name for f in SESSION_SCHEMA.fields]
            )

    return fn


def sessionize(events: DataFrame, gap_seconds: int = SESSION_GAP_SECONDS) -> DataFrame:
    """Per-user session windows with an inactivity gap: custom stateful
    streaming operator (applyInPandasWithState).  Emits one row per CLOSED
    session; open sessions stay in executor state keyed by user — the state
    store scales with active users, not history."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn(gap_seconds),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def tws_available() -> bool:
    """True iff transformWithStateInPandas can actually RUN here: its
    Python state-server client speaks protobuf to the JVM state server
    (pyspark.sql.streaming.proto), so without ``google.protobuf`` the
    stream's driver worker crashes at startup
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE / "driver worker
    exited unexpectedly", verified empirically on this Spark 4.1 build).
    applyInPandasWithState (``sessionize``) has no such dependency."""
    import importlib.util

    try:
        # find_spec of a dotted name imports the PARENT package, so a
        # missing 'google' namespace raises instead of returning None
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


def _make_sessionize_processor(gap_seconds: int):
    """Build the StatefulProcessor mirroring ``_sessionize_fn`` on
    Spark 4's transformWithStateInPandas — same ``_fold_sessions`` kernel,
    same emitted schema, so a deployment can migrate state APIs (new
    100 TB pipelines start on transformWithState) without semantic drift:

    - carried open-session state lives in a named ValueState instead of
      the single implicit GroupState tuple;
    - the event-time timeout becomes an explicit registered timer at
      last_seen + gap (re-registered per batch, old timer deleted);
    - timer expiry closes the open session exactly as hasTimedOut did.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    out_cols = [f.name for f in SESSION_SCHEMA.fields]

    class _SessionizeProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._handle = handle
            self._sess = handle.getValueState("sess", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            chunks = list(rows)
            batch = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            carried = self._sess.get() if self._sess.exists() else None
            # Drop every timer actually registered for this key before
            # re-registering (registerTimer accumulates; GroupState's
            # setTimeoutTimestamp replaced).  Recomputing last+gap here
            # would MISS a timer that was registered clamped to
            # watermark+1 — the stale survivor would fire later and
            # close a since-extended session.
            for t_ms in list(self._handle.listTimers()):
                self._handle.deleteTimer(t_ms)
            closed, new_state = _fold_sessions(
                batch, carried, gap_seconds, user_id
            )
            self._sess.update(new_state)
            expiry_ms = (
                int(new_state[1].timestamp() * 1000) + gap_seconds * 1000
            )
            self._handle.registerTimer(
                max(expiry_ms, timerValues.getCurrentWatermarkInMs() + 1)
            )
            if closed:
                yield pd.DataFrame(closed, columns=out_cols)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # Watermark passed last+gap: the open session can never extend
            # (later data would be beyond-watermark late) — close it.
            (user_id,) = key
            if self._sess.exists():
                start, last, n, total = self._sess.get()
                self._sess.clear()
                yield pd.DataFrame(
                    [[user_id, start, last, n, total]], columns=out_cols
                )

        def close(self) -> None:
            pass  # no external resources to release

    return _SessionizeProcessor()


def sessionize_tws(events: DataFrame, gap_seconds: int = SESSION_GAP_SECONDS) -> DataFrame:
    """``sessionize`` re-expressed on transformWithStateInPandas (Spark 4's
    arbitrary-stateful successor to applyInPandasWithState) — the state-API
    portability twin of v02.  Identical semantics by construction: both
    APIs run the same ``_fold_sessions`` kernel and the same
    close-on-watermark rule (explicit timer here, EventTimeTimeout there).

    Requires ``google.protobuf`` at runtime (see ``tws_available``);
    call sites must gate on it in environments that cannot install it."""
    return events.groupBy("user_id").transformWithStateInPandas(
        _make_sessionize_processor(gap_seconds),
        outputStructType=SESSION_SCHEMA,
        outputMode="append",
        timeMode="eventTime",
    )


_NOOP_STATE_OUT = StructType(
    [StructField("user_id", LongType()), StructField("n", LongType())]
)


def noop_state(events: DataFrame) -> DataFrame:
    """NOOP stateful operator: identical grouping / Arrow transfer /
    state-store plumbing to ``sessionize`` with trivial per-group work.
    Its drain wall time is the applyInPandasWithState HARNESS FLOOR —
    the Arrow round-trip, per-group Python invocation, and state commits
    that any operator on this API pays before doing real work.  bench.py
    times it outside the battery region so v02's number can be read net
    of the machinery.

    The floor must carry v02-SHAPED state, not a degenerate one: it
    stores real timestamps (first/last of the batch, no fold) and
    registers the same event-time timeout ``_sessionize_fn`` does.
    Per-key timestamp serialization and timer registration are machinery
    costs that grow with the ACTIVE-KEY count — at sf1 (~2M keys) a
    floor that stored ``(None, None, n, 0.0)`` and skipped
    setTimeoutTimestamp under-billed the machinery by enough to push the
    recorded criterion ``(v02 - floor)/v01`` from 1.4 (sf0.1) to 3.28
    (sf1) while the sessionize KERNEL itself scaled fine (the round-9
    What's-wrong #3 / round-10 verdict task #3 finding)."""

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        n = len(rows)
        prior = state.get[2] if state.exists else 0
        # min/max, not iloc[0]/iloc[-1]: Arrow batches carry no ordering
        # guarantee, and the timeout basis must be the true last event
        # (the same basis _sessionize_fn derives from its fold) — two
        # vectorized ops, negligible against the per-group machinery
        first, last = rows["ts"].min(), rows["ts"].max()
        state.update((first, last, n + prior, 0.0))
        timeout_ms = (
            int(last.timestamp() * 1000) + SESSION_GAP_SECONDS * 1000
        )
        state.setTimeoutTimestamp(
            max(timeout_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame([[key[0], n]], columns=["user_id", "n"])

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_NOOP_STATE_OUT,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _note_executed_stream_plan(q) -> None:
    """Hand the drained query's LAST EXECUTED micro-batch plan to the
    plan-capture hook (tests/test_plan_lint.py lints eager streaming
    entries through this).  Outside a capture block the plan is never
    rendered; a drain that never executed a batch (empty source) has no
    plan to note."""
    from agentic_etl_poc_spark import plan_capture

    try:
        plan_capture.note_text(
            "stream_exec", lambda: q._jsq.explainInternal(False)
        )
    except Exception:
        pass  # no executed batch — nothing to lint


def run_available_now(
    stream_df: DataFrame, checkpoint_dir: str, output_dir: str
) -> None:
    """Drain all currently-available input (Trigger.AvailableNow), then
    stop — cron-batch semantics with streaming exactly-once bookkeeping."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    _note_executed_stream_plan(q)


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append"
):
    """Test/demo sink: drain available input into an in-memory table."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _note_executed_stream_plan(q)
    return q


def enrich_with_dim(events: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream-static enrichment join: the static dim side is re-read per
    micro-batch (picking up slowly-changing updates) and broadcast, so the
    stream side never shuffles — the standard shape for joining a 100 TB/day
    event stream to reference data."""
    return events.join(F.broadcast(dim), on=key, how="left")


def dedup_stream(events: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Streaming exact deduplication: dropDuplicates keyed on event_id,
    bounded by the event-time watermark — state for ids older than the
    watermark is evicted, so memory tracks the watermark horizon instead of
    the full stream history.  The streaming twin of d01 (exact dedup): at
    100 TB/day you dedup in-flight with this and run the batch MinHash/
    SimHash passes (d03-d05) on the landed data."""
    return events.dropDuplicates((keys or ["event_id"]) + ["ts"])


def dedup_stream_within_watermark(
    events: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Streaming exact dedup via ``dropDuplicatesWithinWatermark`` (public
    Spark 3.5+): the dedup key need NOT contain the event-time column —
    each key's state is stamped with the event time of its FIRST arrival
    and evicted once the watermark passes that time plus the delay.

    This is the API distinction that matters at 100 TB/day: plain
    ``dropDuplicates`` only evicts state when the event-time column is
    part of the key (dedup_stream keys on (event_id, ts) for exactly that
    reason); keyed on id alone its state grows with stream history.
    ``dropDuplicatesWithinWatermark`` gives the contract real pipelines
    want — "suppress re-deliveries arriving within the watermark delay of
    the first copy" — with state bounded by the delay horizon.  The flip
    side (tested): a duplicate arriving AFTER its key's state was evicted
    is emitted again, which is the documented at-least-once residue any
    bounded-state dedup must accept."""
    return events.dropDuplicatesWithinWatermark(keys or ["event_id"])


def join_click_to_view(
    views: DataFrame, clicks: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: attribute each click to view events by the
    same user within the preceding ``within`` interval.  Both sides carry
    watermarks, and the time-range predicate bounds the join state: rows
    older than (watermark - interval) are evicted, so state size tracks the
    interval, not the stream history — the requirement for an unbounded
    100 TB/day stream.  The same expression evaluates on batch frames for
    backfill parity (tested)."""
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "view_id",
        "view_ts",
        "click_ts",
        "click_value",
    )
