"""End-to-end plan pipeline tests on a synthesized retail triplet.

The fixture mirrors the reference's canonical input shape (FIXTURES.md §1):
sales/features/stores CSVs with NA-nulls, mixed date formats (including
unparseable), booleans as TRUE/FALSE strings.  The transform exercises the
full demonstrated SQL surface (SURVEY §2.3) and the result is compared
differentially against DuckDB running the SAME plan SQL on the same files.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random

import duckdb
import pytest

from agentic_etl_poc_spark.runtime import run_from_plan

N_STORES = 5
N_DEPTS = 3
N_WEEKS = 30


@pytest.fixture(scope="module")
def triplet_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("retail")
    rng = random.Random(42)
    base = dt.date(2011, 1, 7)

    with open(root / "sales.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Store", "Dept", "Date", "Weekly_Sales", "IsHoliday"])
        for s in range(1, N_STORES + 1):
            for d in range(1, N_DEPTS + 1):
                for k in range(N_WEEKS):
                    date = base + dt.timedelta(weeks=k)
                    # mixed formats + some unparseable + some NA sales
                    if k % 7 == 3:
                        ds = date.isoformat()
                    elif k % 11 == 5:
                        ds = "bogus-date"
                    else:
                        ds = date.strftime("%m/%d/%Y")
                    sales = "NA" if k % 13 == 7 else f"{rng.uniform(100, 9999):.2f}"
                    w.writerow([s, d, ds, sales, "TRUE" if k % 5 == 0 else "FALSE"])

    with open(root / "features.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Store", "Date", "Temperature", "Fuel_Price", "CPI",
                    "Unemployment", "IsHoliday"])
        for s in range(1, N_STORES + 1):
            for k in range(N_WEEKS):
                date = base + dt.timedelta(weeks=k)
                temp = "NA" if k % 9 == 4 else f"{rng.uniform(-5, 40):.2f}"
                w.writerow([s, date.strftime("%m/%d/%Y"), temp,
                            f"{rng.uniform(2, 5):.3f}", f"{rng.uniform(120, 230):.4f}",
                            f"{rng.uniform(3, 12):.3f}",
                            "TRUE" if k % 5 == 0 else "FALSE"])

    with open(root / "stores.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Store", "Type", "Size"])
        for s in range(1, N_STORES + 1):
            w.writerow([s, "ABC"[s % 3], 50000 + 25000 * s])

    return str(root)


# Written fresh for this engine: exercises the same construct set as the
# reference's canonical query (casts, COALESCE, try_strptime fallback,
# DATE_TRUNC week, two LEFT JOINs incl. cast-in-key, GROUP BY, conditional
# SUM, ORDER BY) without copying its text.
TRANSFORM_SQL = """
WITH sales_clean AS (
  SELECT CAST(Store AS INT) AS store_id,
         CAST(Dept AS INT) AS dept_id,
         COALESCE(CAST(Weekly_Sales AS DOUBLE), 0.0) AS wk_sales,
         CAST(IsHoliday AS BOOLEAN) AS is_holiday,
         CAST(COALESCE(try_strptime(CAST(Date AS VARCHAR), '%m/%d/%Y'),
                       try_strptime(CAST(Date AS VARCHAR), '%Y-%m-%d')) AS DATE) AS sale_date
  FROM sales
), feat_clean AS (
  SELECT CAST(Store AS INT) AS store_id,
         CAST(COALESCE(try_strptime(CAST(Date AS VARCHAR), '%m/%d/%Y'),
                       try_strptime(CAST(Date AS VARCHAR), '%Y-%m-%d')) AS DATE) AS feat_date,
         CAST(Temperature AS DOUBLE) AS temperature,
         CAST(Fuel_Price AS DOUBLE) AS fuel_price
  FROM features
)
SELECT s.store_id, s.dept_id,
       DATE_TRUNC('week', s.sale_date) AS week,
       SUM(s.wk_sales) AS weekly_sales,
       SUM(CASE WHEN s.is_holiday THEN s.wk_sales ELSE 0 END) AS holiday_sales,
       AVG(f.temperature) AS avg_temp,
       AVG(f.fuel_price) AS avg_fuel,
       st.Type AS store_type,
       CAST(st.Size AS BIGINT) AS store_size
FROM sales_clean s
LEFT JOIN feat_clean f
  ON s.store_id = f.store_id AND s.sale_date = f.feat_date
LEFT JOIN stores st
  ON s.store_id = CAST(st.Store AS INT)
GROUP BY s.store_id, s.dept_id, week, st.Type, store_size
ORDER BY s.store_id, s.dept_id, week
"""


def _plan(triplet_dir: str, out_path: str, min_rows: int = 10) -> str:
    return f"""
limits:
  max_input_bytes: 1073741824
source:
  kind: csv
  csv:
    paths:
      sales: {triplet_dir}/sales.csv
      features: {triplet_dir}/features.csv
      stores: {triplet_dir}/stores.csv
transform:
  sql: |
{_indent(TRANSFORM_SQL, 4)}
load:
  to: csv
  file_path: {out_path}
  include_header: true
checks:
  min_rows: {min_rows}
  nonnull_cols: [store_id, dept_id, weekly_sales]
verify:
  min_rows: {min_rows}
  nonnull_cols: [store_id, dept_id, weekly_sales]
alerts:
  on_fail: "slack://#data-alerts"
"""


def _indent(s: str, n: int) -> str:
    pad = " " * n
    return "\n".join(pad + line for line in s.strip().splitlines())


def test_e2e_canonical_pipeline(spark, triplet_dir, tmp_path):
    out_path = str(tmp_path / "out.csv")
    result = run_from_plan(spark, _plan(triplet_dir, out_path))
    assert result["status"] == "ok", json.dumps(result)
    assert os.path.isfile(out_path)
    assert result["dq"]["rows"] >= 10
    assert result["verify"]["status"] is True

    # Differential oracle: DuckDB runs the same plan SQL over the same CSVs.
    con = duckdb.connect()
    for name in ("sales", "features", "stores"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_csv_auto('{triplet_dir}/{name}.csv', nullstr='NA')"
        )
    oracle = con.execute(TRANSFORM_SQL).fetchall()

    import pandas as pd

    got = pd.read_csv(out_path)
    assert len(got) == len(oracle)
    # spot-check the grand totals agree to float tolerance
    oracle_total = sum(r[3] for r in oracle)
    assert abs(got["weekly_sales"].sum() - oracle_total) < 1e-6
    # week column survives as ISO date strings (DATE_TRUNC AS DATE shim)
    assert got["week"].str.match(r"\d{4}-\d{2}-\d{2}$").all()


def test_e2e_dq_gate_fails_before_load(spark, triplet_dir, tmp_path):
    out_path = str(tmp_path / "never_written.csv")
    alerts = []
    result = run_from_plan(
        spark,
        _plan(triplet_dir, out_path, min_rows=10_000_000),
        send_alert=lambda ch, msg: alerts.append((ch, msg)) or "sent",
    )
    assert result["status"] == "failed"
    assert "min_rows check failed" in result["dq"]["error"]
    assert not os.path.exists(out_path)  # aborted BEFORE load
    assert alerts and alerts[0][0] == "slack://#data-alerts"


def test_e2e_multi_step_transform(spark, triplet_dir, tmp_path):
    out_path = str(tmp_path / "steps_out.csv")
    plan = f"""
source:
  kind: csv
  csv:
    paths:
      sales: {triplet_dir}/sales.csv
      features: {triplet_dir}/features.csv
      stores: {triplet_dir}/stores.csv
transform:
  steps:
    - name: cleaned
      sql: |
        SELECT CAST(Store AS INT) AS store_id,
               COALESCE(CAST(Weekly_Sales AS DOUBLE), 0.0) AS wk_sales
        FROM sales
    - name: totals
      sql: |
        SELECT store_id, SUM(wk_sales) AS total_sales, COUNT(*) AS n
        FROM cleaned GROUP BY store_id ORDER BY store_id
load:
  to: csv
  file_path: {out_path}
checks:
  min_rows: 1
  nonnull_cols: [store_id, total_sales]
"""
    result = run_from_plan(spark, plan)
    assert result["status"] == "ok", json.dumps(result)
    import pandas as pd

    got = pd.read_csv(out_path)
    assert list(got.columns) == ["store_id", "total_sales", "n"]
    assert len(got) == N_STORES


def test_python_udf_expression(spark):
    from agentic_etl_poc_spark.operators.transform import python_udf

    df = spark.createDataFrame([(1, 2.0), (3, 4.0)], "a int, b double")
    out = python_udf(df, "a * b + 1", "c")
    assert [r["c"] for r in out.orderBy("a").collect()] == [3.0, 13.0]


def test_json_source_roundtrip(spark, tmp_path):
    # selector grammar: in `data['products']`, `data` IS the document root
    # (reference binds the loaded doc to a variable named `data`)
    doc = {
        "products": [
            {"sku": 1234567, "name": "w1", "salePrice": 499.99,
             "manufacturer": {"name": "acme"}},
            {"sku": 7654321, "name": "w2", "salePrice": 9.5,
             "manufacturer": {"name": "zenith"}},
        ]
    }
    p = tmp_path / "products.json"
    p.write_text(json.dumps(doc))
    from agentic_etl_poc_spark.sources.json_source import read_json

    df = read_json(spark, str(p), "data['products']")
    rows = {r["sku"]: r for r in df.collect()}
    assert set(rows) == {1234567, 7654321}
    # nested object flattened to dotted column, json_normalize-style
    assert "manufacturer.name" in df.columns
    assert rows[1234567]["manufacturer.name"] == "acme"


def test_json_directory_of_ndjson_parts_sniffed(spark, tmp_path):
    """A directory of NDJSON part files NOT named '*.ndjson' (engines
    write 'part-*.json') must be read line-delimited: the old
    suffix-of-the-directory rule read it multiLine — one record per file,
    silently wrong rows."""
    from agentic_etl_poc_spark.sources.json_source import read_json

    d = tmp_path / "events_topic"  # no .ndjson suffix anywhere
    d.mkdir()
    (d / "part-0.json").write_text(
        '{"id": 1, "v": "a"}\n{"id": 2, "v": "b"}\n'
    )
    (d / "part-1.json").write_text('{"id": 3, "v": "c"}\n')
    (d / "_SUCCESS").write_text("")
    df = read_json(spark, str(d))
    assert df.count() == 3  # used to be 2 (one doc per file)
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]
    # explicit mode override beats the sniff
    assert read_json(spark, str(d), mode="ndjson").count() == 3


def test_json_directory_of_documents_sniffed(spark, tmp_path):
    """A directory of pretty-printed one-document files reads multiLine:
    line 1 of a pretty document is not a complete JSON value."""
    from agentic_etl_poc_spark.sources.json_source import read_json

    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.json").write_text('{\n  "id": 1,\n  "v": "a"\n}\n')
    (d / "b.json").write_text('{\n  "id": 2,\n  "v": "b"\n}\n')
    df = read_json(spark, str(d))
    assert sorted(r["id"] for r in df.collect()) == [1, 2]


def test_multi_source_plan_parses_and_infers():
    from agentic_etl_poc_spark.plans.parser import infer_kind, parse_plan

    plan = parse_plan(
        """
source:
  multi:
    facts:
      kind: parquet
      parquet: {path: /data/facts.parquet}
    dims:
      kind: json
      json: {path: /data/dims}
    rates:
      kind: api
      api: {url: file:///data/rates.json, json_path: "data['rates']"}
transform:
  sql: SELECT 1
"""
    )
    assert infer_kind(plan.source) == "multi"
    assert set(plan.source.multi) == {"facts", "dims", "rates"}
    assert plan.source.multi["facts"].parquet.path == "/data/facts.parquet"
    assert plan.source.multi["rates"].api.url == "file:///data/rates.json"


def test_multi_source_rejects_nesting_and_triplets(spark, tmp_path):
    from agentic_etl_poc_spark.plans.parser import parse_plan
    from agentic_etl_poc_spark.runtime import extract

    nested = parse_plan(
        """
source:
  multi:
    inner:
      multi:
        x:
          kind: parquet
          parquet: {path: /x.parquet}
"""
    )
    with pytest.raises(ValueError, match="nesting"):
        extract(spark, nested)
    triplet = parse_plan(
        f"""
source:
  multi:
    trip:
      kind: csv
      csv:
        paths:
          sales: {tmp_path}/a.csv
          features: {tmp_path}/b.csv
          stores: {tmp_path}/c.csv
"""
    )
    for name in ("a", "b", "c"):
        (tmp_path / f"{name}.csv").write_text("x\n1\n")
    with pytest.raises(ValueError, match="single-frame"):
        extract(spark, triplet)


def test_fetch_api_file_url(spark, tmp_path):
    from agentic_etl_poc_spark.sources.api_source import fetch_api

    doc = tmp_path / "feed.json"
    doc.write_text(json.dumps({"rates": [{"ccy": "EUR", "rate": 1.1},
                                         {"ccy": "GBP", "rate": 1.3}]}))
    df = fetch_api(spark, f"file://{doc}", json_path="data['rates']")
    rows = {r["ccy"]: r["rate"] for r in df.collect()}
    assert rows == {"EUR": 1.1, "GBP": 1.3}


def test_verify_csv_missing_file(spark):
    from agentic_etl_poc_spark.operators.verify import verify_csv

    res = verify_csv(spark, "/tmp/definitely_missing_xyz.csv")
    assert res["status"] is False
    assert "file_not_found" in res["error"]


def test_run_ledger(tmp_path):
    from agentic_etl_poc_spark.memory import RunLedger

    led = RunLedger(str(tmp_path / "runs.db"))
    rid = led.start_run("prompt text", "plan: yaml")
    led.finish_run(rid, {"status": "ok", "dq": {"rows": 42}})
    runs = led.runs()
    assert runs[0]["run_id"] == rid
    assert runs[0]["status"] == "ok"
    assert runs[0]["rows_written"] == 42
    led.set_state("watermark", {"ts": "2026-01-01"})
    assert led.get_state("watermark") == {"ts": "2026-01-01"}


def test_upsert_merge_on_conflict(tmp_path):
    """The one genuinely custom writer: stage -> ON CONFLICT merge, run
    against SQLite (same statement shapes Postgres accepts)."""
    import sqlite3

    from agentic_etl_poc_spark.sinks.jdbc_sink import _merge_on_conflict

    db = tmp_path / "sink.db"
    conn_str = f"sqlite:///{db}"
    con = sqlite3.connect(db)
    with con:
        con.execute("CREATE TABLE tgt_stg (id INTEGER, name TEXT, qty INTEGER)")
        con.executemany(
            "INSERT INTO tgt_stg VALUES (?, ?, ?)",
            [(1, "a", 10), (2, "b", 20)],
        )
    _merge_on_conflict(conn_str, "tgt", "tgt_stg", ["id"], ["id", "name", "qty"])
    # second pass: one conflicting update, one fresh insert
    with con:
        con.execute("DELETE FROM tgt_stg")
        con.executemany(
            "INSERT INTO tgt_stg VALUES (?, ?, ?)",
            [(2, "b2", 22), (3, "c", 30)],
        )
    _merge_on_conflict(conn_str, "tgt", "tgt_stg", ["id"], ["id", "name", "qty"])
    rows = sorted(con.execute("SELECT id, name, qty FROM tgt").fetchall())
    con.close()
    assert rows == [(1, "a", 10), (2, "b2", 22), (3, "c", 30)]


def test_read_csv_b64(spark):
    import base64

    from agentic_etl_poc_spark.sources.csv_source import read_csv_b64

    csv = "a,b\n1,x\n2,NA\n"
    df = read_csv_b64(spark, base64.b64encode(csv.encode()).decode())
    rows = sorted(df.collect(), key=lambda r: r["a"])
    assert len(rows) == 2 and rows[0]["b"] == "x"


def test_fetch_api_monkeypatched(spark, monkeypatch):
    """API source contract without network: stub requests.get, check query
    params, selector traversal, and json_normalize flattening."""
    import sys
    import types

    calls = {}

    class FakeResp:
        def raise_for_status(self):
            pass

        def json(self):
            # the selector "data['products']" binds `data` to the whole
            # response (reference eval semantics), so products is top-level
            return {
                "products": [
                    {"sku": 1, "price": {"amount": 9.5}},
                    {"sku": 2, "price": {"amount": 3.0}},
                ]
            }

    def fake_get(url, params=None, timeout=None):
        calls.update(url=url, params=params, timeout=timeout)
        return FakeResp()

    fake_requests = types.ModuleType("requests")
    fake_requests.get = fake_get
    monkeypatch.setitem(sys.modules, "requests", fake_requests)

    from agentic_etl_poc_spark.sources.api_source import fetch_api

    df = fetch_api(
        spark,
        "https://example.test/api",
        params='{"limit": 2}',
        json_path="data['products']",
    )
    assert calls["params"] == {"limit": 2}
    assert calls["timeout"] == 120
    rows = sorted(df.collect(), key=lambda r: r["sku"])
    assert rows[0]["sku"] == 1
    assert rows[0]["price.amount"] == 9.5  # dotted flattening, json_normalize-style


def test_e2e_parquet_to_partitioned_parquet(spark, tmp_path):
    """Engine-native scale path: parquet tables in, SQL over views,
    partitioned parquet out, verify gate re-reads the artifact."""
    import os

    from agentic_etl_poc_spark.runtime import run_from_plan

    out_dir = str(tmp_path / "agg_out")
    plan = f"""
source:
  kind: parquet
  parquet:
    tables:
      orders: /root/testdata/sf0.001/orders.parquet
      customer: /root/testdata/sf0.001/customer.parquet
transform:
  steps:
    - name: seg_totals
      sql: |
        SELECT c_mktsegment, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment, o_orderpriority
load:
  to: parquet
  file_path: {out_dir}
  mode: replace
  partition_by: [c_mktsegment]
checks:
  min_rows: 5
  nonnull_cols: [o_orderpriority, n]
verify:
  min_rows: 5
"""
    result = run_from_plan(spark, plan)
    assert result["status"] == "ok", result
    assert result["verify"]["rows"] >= 5
    # partitioned layout on disk
    parts = [d for d in os.listdir(out_dir) if d.startswith("c_mktsegment=")]
    assert len(parts) == 5
    # artifact is readable and partition-prunable
    back = spark.read.parquet(out_dir)
    one = back.filter(back["c_mktsegment"] == parts[0].split("=")[1])
    assert one.count() > 0


def test_e2e_without_dq_section(spark, triplet_dir, tmp_path):
    """Reference ablation prompt_w_o_dq: no checks section — executor
    defaults min_rows=1 and proceeds (reference: templates.py:124-128
    ignores checks.disabled and defaults)."""
    out_path = str(tmp_path / "no_dq.csv")
    plan = f"""
source:
  kind: csv
  csv:
    paths:
      sales: {triplet_dir}/sales.csv
      features: {triplet_dir}/features.csv
      stores: {triplet_dir}/stores.csv
transform:
  sql: |
    SELECT CAST(Store AS INT) AS store_id, COUNT(*) AS n
    FROM sales GROUP BY store_id ORDER BY store_id
load:
  to: csv
  file_path: {out_path}
"""
    result = run_from_plan(spark, plan)
    assert result["status"] == "ok", json.dumps(result)
    assert result["dq"]["rows"] == N_STORES


def test_e2e_verify_without_nonnull(spark, triplet_dir, tmp_path):
    """Reference ablation prompt_w_o_verify: verify present but without
    nonnull cols — fast path (row count + mtime freshness only)."""
    out_path = str(tmp_path / "fast_verify.csv")
    plan = f"""
source:
  kind: csv
  csv:
    paths:
      sales: {triplet_dir}/sales.csv
      features: {triplet_dir}/features.csv
      stores: {triplet_dir}/stores.csv
transform:
  sql: |
    SELECT CAST(Store AS INT) AS store_id, COUNT(*) AS n
    FROM sales GROUP BY store_id ORDER BY store_id
load:
  to: csv
  file_path: {out_path}
checks:
  min_rows: 2
verify:
  min_rows: 2
  max_lag_minutes: 180
"""
    result = run_from_plan(spark, plan)
    assert result["status"] == "ok", json.dumps(result)
    ver = result["verify"]
    assert ver["rows"] == N_STORES and ver["status"] is True


def test_e2e_incremental_watermark(spark, tmp_path):
    """Incremental runs: tick 1 processes the initial data, tick 2 only
    the newly-arrived file, tick 3 (nothing new) processes zero rows —
    the watermark only advances on verified success."""
    from agentic_etl_poc_spark.memory import RunLedger

    src_dir = tmp_path / "incr_src"
    src_dir.mkdir()
    ledger = str(tmp_path / "ledger.db")
    out_dir = str(tmp_path / "incr_out")

    from agentic_etl_poc_spark.io_tables import table as _table

    ev = _table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "event_type", "value"
    )
    cutoff = ev.agg({"ts": "max"}).collect()[0][0]
    import datetime as dt

    split_at = cutoff - dt.timedelta(days=7)
    first = ev.filter(ev["ts"] <= split_at)
    second = ev.filter(ev["ts"] > split_at)
    n1, n2 = first.count(), second.count()
    assert n1 > 0 and n2 > 0
    first.write.mode("overwrite").parquet(str(src_dir / "batch1"))

    def plan(min_rows):
        return f"""
source:
  kind: parquet
  parquet:
    path: {src_dir}/*
transform:
  sql: SELECT event_id, ts, event_type, value FROM input_df
load:
  to: parquet
  file_path: {out_dir}
  mode: append
checks:
  min_rows: {min_rows}
incremental:
  ts_col: ts
  ledger: {ledger}
  key: events_pipeline
"""

    r1 = run_from_plan(spark, plan(1))
    assert r1["status"] == "ok", json.dumps(r1)
    assert r1["dq"]["rows"] == n1

    second.write.mode("overwrite").parquet(str(src_dir / "batch2"))
    r2 = run_from_plan(spark, plan(1))
    assert r2["status"] == "ok", json.dumps(r2)
    assert r2["dq"]["rows"] == n2  # ONLY the new rows

    r3 = run_from_plan(spark, plan(0))
    assert r3["status"] == "ok", json.dumps(r3)
    assert r3["dq"]["rows"] == 0  # nothing new

    # sink accumulated exactly once per row
    assert spark.read.parquet(out_dir).count() == n1 + n2
    wm = RunLedger(ledger).get_state("watermark:events_pipeline")
    assert wm is not None and wm.startswith(str(cutoff.year))


def test_e2e_parquet_verify_gate_fails(spark, tmp_path):
    """Post-load verify failure on the parquet sink: load succeeds, the
    artifact re-read misses min_rows, result flips to failed with the
    verify payload and the alert fires."""
    out_dir = str(tmp_path / "small_out")
    alerts = []
    plan = f"""
source:
  kind: parquet
  parquet:
    tables:
      region: /root/testdata/sf0.001/region.parquet
transform:
  sql: SELECT r_regionkey, r_name FROM region
load:
  to: parquet
  file_path: {out_dir}
  mode: replace
checks:
  min_rows: 1
verify:
  min_rows: 99999
alerts:
  on_fail: "slack://#alerts"
"""
    result = run_from_plan(
        spark, plan, send_alert=lambda ch, m: alerts.append((ch, m)) or "sent"
    )
    assert result["status"] == "failed"
    assert result["verify"]["rows"] == 5
    assert result["verify"]["status"] is False
    assert alerts and "Verify failed" in alerts[0][1]


def test_parquet_sink_schema_evolution(spark, tmp_path):
    """Appending a widened schema to a parquet dir: mergeSchema read yields
    the union schema with nulls for the old rows — the lakehouse-style
    evolution contract of the scale sink."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id int, name string").write.mode(
        "append"
    ).parquet(out)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id int, name string, score double"
    ).write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", True).parquet(out)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_parquet_source_nanos_ts(spark, tmp_path):
    """TIMESTAMP(NANOS) parquet (the bundled events table) through the plan
    layer via nanos_ts_cols — truncated to microseconds like DuckDB."""
    out = str(tmp_path / "nanos_out")
    plan = f"""
source:
  kind: parquet
  parquet:
    path: /root/testdata/sf0.001/events.parquet
    nanos_ts_cols: [ts]
transform:
  sql: |
    SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
    FROM input_df GROUP BY 1
load:
  to: parquet
  file_path: {out}
  mode: replace
checks:
  min_rows: 10
  nonnull_cols: [hour]
"""
    result = run_from_plan(spark, plan)
    assert result["status"] == "ok", json.dumps(result)
    back = spark.read.parquet(out)
    assert dict(back.dtypes)["hour"].startswith("timestamp")


def test_jdbc_derby_live_roundtrip(spark, tmp_path):
    """The one §2 path previously proven only by construction/golden
    tests, run LIVE: load_to_postgres append+replace through Spark's JDBC
    writer into embedded Derby (the JDBC engine on Spark's own
    classpath), fetch_db with upstream predicate pushdown, and
    verify_table counting IN the sink DB.  p10 covers the plan-level
    lifecycle; this pins the operator-level contracts (mode semantics,
    quoted-identifier case preservation, error shape for a missing
    table)."""
    from agentic_etl_poc_spark.operators.verify import verify_table
    from agentic_etl_poc_spark.queries.pipeline import derby_url
    from agentic_etl_poc_spark.sinks.jdbc_sink import load_to_postgres
    from agentic_etl_poc_spark.sources.jdbc_source import fetch_db

    url_create = derby_url(str(tmp_path / "db"), create=True)
    url = derby_url(str(tmp_path / "db"))
    df = spark.createDataFrame(
        [(1, 10.5), (2, 20.5), (3, 30.5)], "id BIGINT, v DOUBLE"
    )
    assert "replace" in load_to_postgres(df, url_create, "t", mode="replace")
    # pushdown: the WHERE executes in Derby; quoted identifiers keep case
    got = fetch_db(spark, url, 'SELECT "id", "v" FROM t WHERE "id" >= 2')
    assert sorted((r["id"], r["v"]) for r in got.collect()) == [
        (2, 20.5),
        (3, 30.5),
    ]
    # append doubles the rows; replace resets
    load_to_postgres(df, url, "t", mode="append")
    assert verify_table(spark, url, "t")["rows"] == 6
    load_to_postgres(df, url, "t", mode="replace")
    ver = verify_table(spark, url, "t")
    assert ver == {
        "rows": 3,
        "fresh_ok": True,
        "lag_minutes": None,
        "status": True,
    }
    # reference contract: engine errors are REPORTED, not raised
    missing = verify_table(spark, url, "no_such_table")
    assert missing["status"] is False
    assert "engine_error" in missing["error"]


def test_jdbc_derby_live_upsert(spark, tmp_path):
    """Upsert mode LIVE on embedded Derby (MERGE INTO dialect) — the one
    §2.2 load mode previously golden-tested on SQLite only.  Proves all
    three merge behaviors at the operator level: create-on-first-upsert
    (pure insert), matched-key UPDATE, unmatched-key INSERT, and that
    untouched rows survive; p12 pins the same semantics driver-visibly
    through the full plan lifecycle."""
    from agentic_etl_poc_spark.queries.pipeline import derby_url
    from agentic_etl_poc_spark.sinks.jdbc_sink import load_to_postgres
    from agentic_etl_poc_spark.sources.jdbc_source import fetch_db

    url_create = derby_url(str(tmp_path / "db"), create=True)
    url = derby_url(str(tmp_path / "db"))
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "a")],
        "id BIGINT, v DOUBLE, tag STRING",
    )
    # first upsert on an absent table: create + pure insert
    assert "upsert" in load_to_postgres(
        base, url_create, "ups", mode="upsert", key_cols=["id"]
    )
    # second upsert: id=2,3 updated in place, id=4 inserted, id=1 untouched
    delta = spark.createDataFrame(
        [(2, 21.0, "b"), (3, 31.0, "b"), (4, 40.0, "b")],
        "id BIGINT, v DOUBLE, tag STRING",
    )
    load_to_postgres(delta, url, "ups", mode="upsert", key_cols=["id"])
    got = fetch_db(
        spark, url, 'SELECT "id", "v", CAST("tag" AS VARCHAR(4)) AS "tag" FROM ups'
    )
    assert sorted((r["id"], r["v"], r["tag"]) for r in got.collect()) == [
        (1, 10.0, "a"),
        (2, 21.0, "b"),
        (3, 31.0, "b"),
        (4, 40.0, "b"),
    ]
    # the unique key index exists: a straight duplicate-key append fails
    import pytest as _pytest

    with _pytest.raises(Exception):
        load_to_postgres(base, url, "ups", mode="append")
    # upsert with every column a key: MERGE has no SET list; re-upserting
    # the same rows is a no-op, a new row inserts
    allkeys = spark.createDataFrame([(1,), (9,)], "k BIGINT")
    load_to_postgres(allkeys, url, "ak", mode="upsert", key_cols=["k"])
    load_to_postgres(allkeys, url, "ak", mode="upsert", key_cols=["k"])
    got = fetch_db(spark, url, 'SELECT "k" FROM ak')
    assert sorted(r["k"] for r in got.collect()) == [1, 9]


def test_parquet_cow_upsert_semantics(spark, tmp_path):
    """upsert_parquet proves all three merge behaviors AND the COW
    efficiency contract: untouched partition directories keep their exact
    files (names + mtimes), touched ones are atomically swapped."""
    import os

    from agentic_etl_poc_spark.sinks.parquet_sink import upsert_parquet

    tbl = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 2024, "a"), (2, 2024, "b"), (3, 2025, "c")],
        "id int, yr int, v string",
    )
    msg = upsert_parquet(base, tbl, ["id"], ["yr"])
    assert "bootstrap" in msg

    def sig(d):
        p = os.path.join(tbl, d)
        return {
            f: os.stat(os.path.join(p, f)).st_mtime_ns
            for f in os.listdir(p)
            if not f.startswith(("_", "."))
        }

    before_2024 = sig("yr=2024")
    batch = spark.createDataFrame(
        [(3, 2025, "c2"), (4, 2025, "d"), (5, 2026, "e")],
        "id int, yr int, v string",
    )
    msg = upsert_parquet(batch, tbl, ["id"], ["yr"])
    assert "2 partitions rewritten" in msg  # 2025 (update+insert) + 2026 (new)

    got = {
        (r["id"], r["yr"], r["v"])
        for r in spark.read.parquet(tbl).collect()
    }
    assert got == {
        (1, 2024, "a"),  # untouched partition survives
        (2, 2024, "b"),
        (3, 2025, "c2"),  # key 3 updated in place
        (4, 2025, "d"),  # insert into existing partition
        (5, 2026, "e"),  # insert into brand-new partition
    }
    # the COW claim itself: 2024's files are bit-identical (never opened
    # for write — same names, same mtimes)
    assert sig("yr=2024") == before_2024


def test_changed_partitions_diff(spark, tmp_path):
    """partition_signatures + changed_partitions: the change-feed diff
    names exactly the rewritten/new partitions, never untouched ones."""
    from agentic_etl_poc_spark.sinks.parquet_sink import (
        changed_partitions,
        partition_signatures,
        upsert_parquet,
    )

    tbl = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 2024, "a"), (3, 2025, "c")], "id int, yr int, v string"
    )
    upsert_parquet(base, tbl, ["id"], ["yr"])
    snap = partition_signatures(tbl, "yr")
    batch = spark.createDataFrame(
        [(3, 2025, "c2"), (5, 2026, "e")], "id int, yr int, v string"
    )
    upsert_parquet(batch, tbl, ["id"], ["yr"])
    assert changed_partitions(tbl, "yr", snap) == ["2025", "2026"]
    assert changed_partitions(tbl, "yr", partition_signatures(tbl, "yr")) == []
