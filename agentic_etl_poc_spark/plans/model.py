"""Typed plan model — the YAML surface of the engine.

Field names mirror the reference's declared plan schema exactly
(reference: etl_agent/templates.py:1-10 PLAN_SCHEMA_HINT, plan.yaml:1-50,
prompt.txt:1-91) so existing plans run unmodified:

  limits:    {max_input_bytes}
  source:    {kind: api|csv|json|db|auto, csv:{path | paths{sales,features,stores}},
              json:{path, json_path}, api:{url, params, json_path},
              db:{conn_str, query}}
  transform: {sql} | {steps: [{name, sql}]}
  load:      {to: csv|postgres|parquet, file_path, include_header,
              conn_str, table, mode: append|replace|upsert, key_cols,
              partition_by}  (parquet upsert = COW partition merge)
  checks:    {min_rows, nonnull_cols, freshness_minutes, timestamp_col}
  verify:    {min_rows, nonnull_cols, ts_col, max_lag_minutes}
  alerts:    {on_fail, on_dq_fail, webhook_url}
  schedule:  {cron}

Everything is optional-with-defaults exactly where the reference defaults
(min_rows=1, max_lag_minutes=180, mode=append, include_header=True,
max_input_bytes=1e9).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

DEFAULT_MAX_INPUT_BYTES = 1_000_000_000
DEFAULT_MAX_LAG_MINUTES = 180


@dataclass
class CsvSource:
    path: str | None = None
    paths: dict[str, str] | None = None  # named multi-file source
    #: Optional DDL schema per named source (round 13): when the plan
    #: author KNOWS the column types (e.g. the files were staged by the
    #: same pipeline), declaring them skips Spark's schema-inference
    #: pass — one scan per source instead of two (guide §6.2).  Sources
    #: without an entry keep the reference's inference behavior.
    #: Declared types are taken as written and need not equal what
    #: inference would pick (inference narrows small integers to INT, a
    #: declaration may say BIGINT), so a plan that declares schemas must
    #: CAST in its transform, or join only on keys whose declared types
    #: match, rather than rely on the inferred types.
    schemas: dict[str, str] | None = None
    schema: str | None = None  # single-path variant


@dataclass
class JsonSource:
    path: str = ""
    json_path: str = ""
    #: 'auto' (suffix for files, content sniff for directories), 'ndjson',
    #: or 'multiline' — explicit override for layouts the sniff can't see.
    mode: str = "auto"


@dataclass
class ApiSource:
    url: str = ""
    params: dict[str, Any] = field(default_factory=dict)
    json_path: str = ""


@dataclass
class DbSource:
    conn_str: str = ""
    query: str = ""


@dataclass
class ParquetSource:
    """Engine extension (not in the reference's schema): the native scale
    source.  ``path`` registers ``input_df``; ``tables`` registers one view
    per name, like the CSV triplet.  ``nanos_ts_cols`` names TIMESTAMP(NANOS)
    columns (Spark's reader rejects them outright): they are read as int64
    nanos and truncated to microsecond timestamps, matching how DuckDB and
    most engines down-convert."""

    path: str | None = None
    tables: dict[str, str] | None = None
    nanos_ts_cols: list[str] = field(default_factory=list)


@dataclass
class StreamSource:
    """Engine extension (not in the reference's schema): a Structured
    Streaming FILE source drained with Trigger.AvailableNow through the
    same transform -> sink -> DQ -> verify lifecycle as batch plans —
    cron-batch ETL with streaming exactly-once bookkeeping (the
    checkpoint remembers which files each drain consumed, so a re-run
    processes only new arrivals).  ``schema`` is a DDL string (file
    streams cannot infer).  The DQ/verify gates run on the MATERIALIZED
    sink artifact after the drain: a stream cannot be counted before
    writing, so the batch plan's gate-before-load inverts to
    gate-after-materialize (documented semantic difference; a failed
    gate still alerts and reports `failed`, and the checkpoint means the
    bad increment is never re-consumed silently)."""

    path: str | None = None
    schema: str | None = None
    format: str = "json"  # NDJSON topic directory
    watermark_col: str | None = None
    watermark_delay: str = "10 minutes"
    checkpoint: str | None = None  # default: <load.file_path>_checkpoint


@dataclass
class Source:
    kind: str = "auto"
    csv: CsvSource | None = None
    json: JsonSource | None = None
    api: ApiSource | None = None
    db: DbSource | None = None
    parquet: ParquetSource | None = None
    stream: StreamSource | None = None
    #: Heterogeneous multi-source (engine extension the reference declares
    #: but cannot run — templates.py:87-95 hardcodes one kind per plan):
    #: each named sub-source loads independently and registers a temp view
    #: under its name; the transform SQL joins them.  Sub-sources must be
    #: single-frame kinds (no nesting, no csv triplet).
    multi: "dict[str, Source] | None" = None


@dataclass
class TransformStep:
    name: str
    sql: str


@dataclass
class Transform:
    sql: str | None = None
    steps: list[TransformStep] = field(default_factory=list)


@dataclass
class Load:
    to: str = "postgres"
    file_path: str | None = None
    include_header: bool = True
    conn_str: str | None = None
    table: str | None = None
    mode: str = "append"
    key_cols: list[str] = field(default_factory=list)
    partition_by: list[str] = field(default_factory=list)  # parquet sink
    #: parquet sink: emit row-level insert/update_pre/update_post sets
    #: into the table's _changes/ feed, committed atomically with the
    #: data (the plain-parquet Delta change-data-feed equivalent)
    change_feed: bool = False


@dataclass
class Checks:
    min_rows: int = 1
    nonnull_cols: list[str] = field(default_factory=list)
    freshness_minutes: int | None = None
    timestamp_col: str = ""
    #: Engine extension: when set, rows violating ``nonnull_cols`` are
    #: ROUTED to this parquet path instead of failing the whole plan —
    #: the quarantine pattern (gate semantics stay the default: an
    #: unset path keeps the reference's alert-and-abort behavior).
    #: ``min_rows`` then applies to the CLEAN rows that reach the sink.
    quarantine_path: str = ""


@dataclass
class Verify:
    min_rows: int | None = None  # falls back to checks.min_rows
    nonnull_cols: list[str] | None = None  # falls back to checks.nonnull_cols
    ts_col: str = ""
    max_lag_minutes: int = DEFAULT_MAX_LAG_MINUTES


@dataclass
class Incremental:
    """Engine extension: watermark-incremental batch runs.  Each run
    processes only source rows with ``ts_col`` strictly greater than the
    high-watermark stored in the run ledger under ``key``; a successful
    (verified) run advances the watermark.  Single-source plans only
    (``input_df``) — multi-table sources have no single increment column."""

    ts_col: str = ""
    ledger: str = "etl_runs.db"
    key: str = "default"


@dataclass
class Plan:
    source: Source
    transform: Transform
    load: Load
    checks: Checks = field(default_factory=Checks)
    verify: Verify = field(default_factory=Verify)
    alerts: dict[str, str] = field(default_factory=dict)
    limits: dict[str, Any] = field(default_factory=dict)
    schedule: dict[str, Any] = field(default_factory=dict)
    incremental: Incremental | None = None

    @property
    def max_input_bytes(self) -> int:
        return int(self.limits.get("max_input_bytes", DEFAULT_MAX_INPUT_BYTES))


def _get(d: Any, key: str, default: Any = None) -> Any:
    return d.get(key, default) if isinstance(d, dict) else default


def _source_from_dict(src_d: Any) -> Source:
    multi_d = _get(src_d, "multi")
    return Source(
        kind=str(_get(src_d, "kind", "auto")),
        csv=CsvSource(
            path=_get(_get(src_d, "csv", {}), "path"),
            paths=_get(_get(src_d, "csv", {}), "paths"),
            schemas=_get(_get(src_d, "csv", {}), "schemas"),
            schema=_get(_get(src_d, "csv", {}), "schema"),
        )
        if "csv" in src_d
        else None,
        json=JsonSource(
            path=_get(_get(src_d, "json", {}), "path", ""),
            json_path=_get(_get(src_d, "json", {}), "json_path", ""),
            mode=str(_get(_get(src_d, "json", {}), "mode", "auto")),
        )
        if "json" in src_d
        else None,
        api=ApiSource(
            url=_get(_get(src_d, "api", {}), "url", ""),
            params=_get(_get(src_d, "api", {}), "params", {}) or {},
            json_path=_get(_get(src_d, "api", {}), "json_path", ""),
        )
        if "api" in src_d
        else None,
        db=DbSource(
            conn_str=_get(_get(src_d, "db", {}), "conn_str", ""),
            query=_get(_get(src_d, "db", {}), "query", ""),
        )
        if "db" in src_d
        else None,
        parquet=ParquetSource(
            path=_get(_get(src_d, "parquet", {}), "path"),
            tables=_get(_get(src_d, "parquet", {}), "tables"),
            nanos_ts_cols=list(
                _get(_get(src_d, "parquet", {}), "nanos_ts_cols") or []
            ),
        )
        if "parquet" in src_d
        else None,
        stream=StreamSource(
            path=_get(_get(src_d, "stream", {}), "path"),
            schema=_get(_get(src_d, "stream", {}), "schema"),
            format=str(_get(_get(src_d, "stream", {}), "format", "json")),
            watermark_col=_get(_get(src_d, "stream", {}), "watermark_col"),
            watermark_delay=str(
                _get(_get(src_d, "stream", {}), "watermark_delay", "10 minutes")
            ),
            checkpoint=_get(_get(src_d, "stream", {}), "checkpoint"),
        )
        if "stream" in src_d
        else None,
        multi={
            str(name): _source_from_dict(sub or {})
            for name, sub in multi_d.items()
        }
        if isinstance(multi_d, dict)
        else None,
    )


def plan_from_dict(doc: dict[str, Any]) -> Plan:
    """Build a typed Plan from a parsed YAML mapping, tolerating missing
    sections the way the reference executor does."""
    src_d = doc.get("source", {}) or {}
    source = _source_from_dict(src_d)

    tr_d = doc.get("transform", {}) or {}
    steps = [
        TransformStep(name=st["name"], sql=st["sql"]) for st in (tr_d.get("steps") or [])
    ]
    transform = Transform(sql=tr_d.get("sql"), steps=steps)

    ld_d = doc.get("load", {}) or {}
    load = Load(
        to=str(ld_d.get("to", "postgres")),
        file_path=ld_d.get("file_path"),
        include_header=bool(ld_d.get("include_header", True)),
        conn_str=ld_d.get("conn_str"),
        table=ld_d.get("table"),
        mode=str(ld_d.get("mode", "append")),
        key_cols=list(ld_d.get("key_cols") or []),
        partition_by=list(ld_d.get("partition_by") or []),
        change_feed=bool(ld_d.get("change_feed", False)),
    )

    ck_d = doc.get("checks", {}) or {}
    checks = Checks(
        min_rows=int(ck_d.get("min_rows", 1)),
        nonnull_cols=list(ck_d.get("nonnull_cols") or []),
        freshness_minutes=ck_d.get("freshness_minutes"),
        timestamp_col=str(ck_d.get("timestamp_col", "")),
        quarantine_path=str(ck_d.get("quarantine_path", "")),
    )

    vf_d = doc.get("verify", {}) or {}
    verify = Verify(
        min_rows=vf_d.get("min_rows"),
        nonnull_cols=vf_d.get("nonnull_cols"),
        ts_col=str(vf_d.get("ts_col", "")),
        max_lag_minutes=int(vf_d.get("max_lag_minutes", DEFAULT_MAX_LAG_MINUTES)),
    )

    inc_d = doc.get("incremental")
    incremental = (
        Incremental(
            ts_col=str(inc_d.get("ts_col", "")),
            ledger=str(inc_d.get("ledger", "etl_runs.db")),
            key=str(inc_d.get("key", "default")),
        )
        if isinstance(inc_d, dict)
        else None
    )

    return Plan(
        source=source,
        transform=transform,
        load=load,
        checks=checks,
        verify=verify,
        alerts=doc.get("alerts", {}) or {},
        limits=doc.get("limits", {}) or {},
        schedule=doc.get("schedule", {}) or {},
        incremental=incremental,
    )
